"""Shared shingling for the near-dup family (MinHash / n-gram Jaccard /
decontamination).

Word n-gram shingles as a native array column — no Python. The hash
used throughout the dedup family is md5-prefix→bigint, chosen over
xxhash64 deliberately: it is bit-identical in DuckDB, keeping every
dedup operator oracle-checkable.

PERFORMANCE INVARIANT: the token array is ALWAYS bound to its own
projection before any lambda touches it. A transform lambda that
references the raw `split(regexp_replace(lower(text)))` expression
makes Catalyst re-evaluate the normalize+split per element — measured
38.9 s → 5.3 s for one shingle pass over sf0.1 when bound (r02).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def norm_text(text_col: str) -> Column:
    """Unicode-aware content normalization: lowercase, keep letters /
    digits / ASCII space, trim. ``\\p{L}\\p{N}`` (not ``[a-z0-9]``) so
    CJK / Cyrillic / Arabic / accented-Latin text survives — the r02
    ASCII class collapsed every non-Latin document to '' and the whole
    dedup family degenerated on multilingual corpora (VERDICT r02 #2).
    Both Java regex and DuckDB RE2 support the classes identically
    (13-sample parity incl. Turkish ı / titlecase Ǆ / Roman numerals,
    verified r03). Fallback: when normalization strips EVERYTHING
    (emoji-only / punctuation-only docs), use the raw text so distinct
    docs never share the degenerate '' key."""
    # ς→σ after lowering: Spark's lower() applies the Greek final-sigma
    # context rule (Σ at word end → ς) while DuckDB maps Σ→σ always —
    # folding to σ on both sides equals Unicode case folding and keeps
    # the oracle bit-identical (caught by test_norm_parity_fuzz)
    lowered = F.translate(F.lower(F.col(text_col)), "ς", "σ")
    stripped = F.trim(F.regexp_replace(lowered, r"[^\p{L}\p{N} ]", ""))
    return F.coalesce(F.nullif(stripped, F.lit("")), F.col(text_col))


def tokenized(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, toks) with the normalize+split computed exactly once."""
    return docs.select("doc_id", F.split(norm_text(text_col), " ").alias("toks"))


def shingles_of(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle array from a BOUND token column
    (pass an attribute, not the split expression — see module note).

    try_element_at: docs shorter than n produce a truncated shingle
    (nulls skipped by concat_ws) instead of an ANSI index error —
    matching DuckDB's out-of-range-→-NULL list semantics."""
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    return F.array_distinct(
        F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", *[F.try_element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
            ),
        )
    )


def doc_shingle_arrays(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """(doc_id, sh: array<string>). NOTE: Project-over-Project shapes
    can still be collapsed by Catalyst (re-inlining the tokenization
    into the lambda) — consumers should ``localCheckpoint`` the result
    before fanning out (ngram does)."""
    t = tokenized(docs, text_col)
    return t.select("doc_id", shingles_of(F.col("toks"), n).alias("sh"))


def doc_shingles(docs: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Exploded (doc_id, shingle) rows, distinct per doc.

    Shape matters: Project(toks) directly under Generate(explode) — a
    Generate does NOT get collapsed into its child projection, so the
    tokenization stays computed once per row (the Project→Project form
    re-inlined split into the lambda: 30.8 s vs 4.7 s for one sf0.1
    shingle pass)."""
    t = tokenized(docs, text_col)
    return t.select("doc_id", F.explode(shingles_of(F.col("toks"), n)).alias("shingle"))


def h64(col: Column) -> Column:
    """Portable 60-bit hash: md5 hex prefix → bigint (same in DuckDB via
    ('0x' || substr(md5(x),1,15))::UBIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def h64_py(s: str) -> int:
    """Plain-Python twin of :func:`h64` (bit-identical on the same
    string) for the reference replays."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
