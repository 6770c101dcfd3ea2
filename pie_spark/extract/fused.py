"""Fused detector stage: regex + gazetteer + CRF in ONE Arrow pass
(SURVEY.md §2.3 M5 "batched multi-pattern matcher", taken to its
logical conclusion) — the pipeline's only mention-detection entry
point.

The three detector cores (pie_spark/extract/{matchers,gazetteer,tagger}
.py: ``find_matches``, ``find_gazetteer_matches``, ``tag_texts``) are
pure Python; this module runs all three inside a single Iterator pandas
UDF: one scan of the span table, one JVM→Python Arrow transfer, one
Python stage in the physical plan (`ArrowEvalPython` ×1), emitting
every mention with its `detector` tag so the downstream overlap-merge
(T3/W3) sees one mention set. Callers that need a subset pass
``surfaces=[]`` (no gazetteer hits) and/or ``enable_crf=False``.

At the 10^12-doc design point this is the single most expensive stage
of the whole pipeline, so the detectors share its one scan and one
Arrow round trip. It is also the only place the pipeline leaves the
JVM: the dictionary and the CC labels are JVM-local relations
(``LocalTableScan``), and tests/test_plans.py pins that the extract and
triples plans hold no ``Scan ExistingRDD``. Each Python worker builds
the gazetteer automaton once and keeps it across tasks
(:func:`pie_spark.extract.gazetteer.cached_automaton`).
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from pie_spark.extract.gazetteer import AhoCorasick, cached_automaton, find_gazetteer_matches
from pie_spark.extract.matchers import find_matches
from pie_spark.extract.tagger import tag_text, tag_texts

# UDF return element: one detected mention within one span text, with
# the detector that found it
FUSED_MATCH_STRUCT = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            T.StructField("mention_type", T.StringType(), False),
            T.StructField("surface", T.StringType(), False),
            T.StructField("score", T.DoubleType(), False),
            T.StructField("detector", T.StringType(), False),
        ]
    )
)


def detect_all(
    text: str, ac: AhoCorasick, enable_phone: bool, enable_crf: bool
) -> list[dict]:
    """All detectors over one span text — the unit-testable fused core.

    Exactly the union of find_matches ∪ find_gazetteer_matches ∪
    tag_text with a detector tag per element; order is irrelevant (the
    merge window imposes a total order downstream).
    """
    out = [dict(m, detector="regex") for m in find_matches(text, enable_phone)]
    out += [dict(m, detector="gazetteer") for m in find_gazetteer_matches(text, ac)]
    if enable_crf:
        out += [dict(m, detector="crf") for m in tag_text(text)]
    return out


def detect_all_batch(
    texts: list, ac: AhoCorasick, enable_phone: bool, enable_crf: bool
) -> list[list[dict]]:
    """Batch-level fused detection: regex + gazetteer per text, CRF
    decoded by ONE batched numpy Viterbi over the whole Arrow batch
    (tag_texts). Output ≡ ``[detect_all(t) for t in texts]`` — asserted
    by tests."""
    crf = tag_texts(list(texts)) if enable_crf else [[] for _ in texts]
    out: list[list[dict]] = []
    for text, crf_ms in zip(texts, crf):
        if text is None:
            out.append([])
            continue
        ms = [dict(m, detector="regex") for m in find_matches(text, enable_phone)]
        ms += [dict(m, detector="gazetteer") for m in find_gazetteer_matches(text, ac)]
        ms += [dict(m, detector="crf") for m in crf_ms]
        out.append(ms)
    return out


import re as _re

_PURE_LOWER = _re.compile(r"[^a-z ]")


def _gate_applicable(surfaces: list[str]) -> bool:
    """True iff a span whose text is entirely ``[a-z ]`` provably yields
    zero mentions from ALL THREE detectors, so it can be dropped in the
    JVM before the Arrow boundary (guide §4: ship fewer rows to Python).

      * regex: every PII pattern requires ``@`` or a digit — absent.
      * gazetteer: checked here — every surface must contain a char
        outside ``[a-z ]`` (capitalized names do), so no surface can be
        a substring of a pure ``[a-z ]`` text.
      * CRF: every ``[a-z]+`` token has LOWER=1 ⇒ em[O]=25 and B-tag
        emissions ≤ −10 (B-PER: FIRSTLEX 20 − LOWER 30) / −20 (B-ADDR),
        so any non-O segment loses ≥ 35+ per segment against all-O even
        after the best transition gains (≤10/edge) — decode is all-O;
        and ≥2-token mentions need a B tag. Pinned by
        tests/test_fused.py lowercase-soup fuzz.

    The filter is Java ``rlike('[^a-z ]')`` — for this ASCII-literal
    class Java and Python regex semantics are identical, and the
    conservative direction (any exotic char ⇒ keep the span) is safe.
    """
    return all(_PURE_LOWER.search(s) for s in surfaces)


def detector_udf_fn(surfaces, cache_key: int, enable_phone: bool, enable_crf: bool):
    """The fused UDF's Iterator[Series] body. ``surfaces`` is the
    broadcast surface list and ``cache_key`` its content hash; the
    automaton comes from the worker's cache, so a task on a reused
    Python worker does not rebuild it."""

    def det(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        ac = cached_automaton(cache_key, surfaces)
        for texts in batches:
            yield pd.Series(
                detect_all_batch(list(texts), ac, enable_phone, enable_crf)
            )

    return det


def fused_matches(
    text_spans: DataFrame,
    spark: SparkSession,
    surfaces: list[str],
    enable_phone: bool = True,
    enable_crf: bool = True,
) -> DataFrame:
    """One-pass detection over exploded text spans → MENTION_SCHEMA rows,
    `detector` ∈ {regex, gazetteer, crf}.

    r07: spans whose text cannot contain any mention (pure ``[a-z ]`` —
    41.8% of the bench corpus) are dropped by a codegen'd rlike BEFORE
    the Arrow boundary when :func:`_gate_applicable` holds; they emit
    empty arrays in the unfiltered plan, so downstream rows are
    byte-identical."""
    if _gate_applicable(surfaces):
        text_spans = text_spans.filter(F.col("text").rlike("[^a-z ]"))
    surf_list = sorted(set(surfaces))
    bc = spark.sparkContext.broadcast(surf_list)
    cache_key = zlib.crc32("\x00".join(surf_list).encode())
    det = pandas_udf(
        detector_udf_fn(bc, cache_key, enable_phone, enable_crf), FUSED_MATCH_STRUCT
    )

    with_m = text_spans.select("doc_id", "span_idx", "offset", det("text").alias("ms"))
    return with_m.select(
        "doc_id",
        "span_idx",
        F.col("offset").alias("span_offset"),
        # explode_outer + null filter instead of plain explode:
        # Catalyst infers a size(ms)>0 filter below a non-outer
        # Generate and pushes it under the projection, which would
        # evaluate the (expensive) Python UDF TWICE per span.
        F.explode_outer("ms").alias("m"),
    ).filter(F.col("m").isNotNull()).select(
        "doc_id",
        "span_idx",
        "span_offset",
        F.col("m.start").alias("start"),
        F.col("m.end").alias("end"),
        F.col("m.mention_type").alias("mention_type"),
        F.col("m.surface").alias("surface"),
        F.col("m.detector").alias("detector"),
        F.col("m.score").alias("score"),
    )
