"""Training-data prep operators: redaction splicing, deterministic
splits, concat-and-chunk packing (SURVEY.md §2.12 r02 additions)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from .conftest import SF_DIR


def _spans(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "span_idx", "offset", "text"])


def _mentions(spark, rows):
    return spark.createDataFrame(
        rows, ["doc_id", "span_idx", "start", "end", "mention_type"]
    )


def test_redact_splicing(spark):
    from pie_spark.extract.redact import redact_spans

    spans = _spans(spark, [
        ("d1", 0, 0, "mail a.b@x.com and ssn 523-45-6789 end"),
        ("d1", 1, 0, "no mentions here"),
        ("d2", 0, 0, None),
    ])
    mentions = _mentions(spark, [
        ("d1", 0, 5, 14, "EMAIL"),
        ("d1", 0, 23, 34, "SSN"),
    ])
    got = {(r.doc_id, r.span_idx): r.redacted for r in redact_spans(spans, mentions).collect()}
    assert got[("d1", 0)] == "mail [EMAIL] and ssn [SSN] end"
    assert got[("d1", 1)] == "no mentions here"
    assert got[("d2", 0)] is None


def test_redact_adjacent_and_full_span(spark):
    from pie_spark.extract.redact import redact_spans

    spans = _spans(spark, [("d", 0, 0, "abcdef")])
    mentions = _mentions(spark, [("d", 0, 0, 3, "A"), ("d", 0, 3, 6, "B")])
    [r] = redact_spans(spans, mentions).collect()
    assert r.redacted == "[A][B]"


def test_redact_overlap_guard(spark):
    """A malformed (overlapping) mention list degrades gracefully —
    offsets never go negative, later text is preserved."""
    from pie_spark.extract.redact import redact_spans

    spans = _spans(spark, [("d", 0, 0, "0123456789")])
    mentions = _mentions(spark, [("d", 0, 2, 6, "A"), ("d", 0, 4, 8, "B")])
    [r] = redact_spans(spans, mentions).collect()
    assert r.redacted == "01[A][B]89"


def test_split_deterministic_and_partitioning_free(spark):
    from pie_spark.prep.splits import assign_splits

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    a = {(r.doc_id, r.split) for r in assign_splits(d).collect()}
    b = {(r.doc_id, r.split) for r in assign_splits(d.repartition(13)).collect()}
    assert a == b and len(a) == d.count()
    buckets = [r.split_bucket for r in assign_splits(d).collect()]
    assert all(0 <= x < 1_000_000 for x in buckets)


def test_split_weights_validated(spark):
    from pie_spark.prep.splits import assign_splits

    d = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError, match="weights"):
        assign_splits(d, weights={"train": -0.5, "rest": 1.5})
    # single split: everything lands in it
    rows = assign_splits(d, weights={"all": 1.0}).collect()
    assert {r.split for r in rows} == {"all"}


def test_pack_chunks_layout(spark):
    from pie_spark.prep.packing import pack_concat_chunks

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = pack_concat_chunks(d, budget_tokens=100, n_shards=4).collect()
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4)) and len(by_shard) == 4
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rows:
            assert r.start_token == cum, (shard, r)
            assert r.chunk_id == cum // 100 and r.chunk_offset == cum % 100
            cum += r.n_tokens


def test_decontamination_planted(spark):
    from pie_spark.prep.decontam import contamination_hits, decontaminate

    bench = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "totally unrelated words about spark shuffles and joins"),
            (2, "he said the secret benchmark answer out loud"),          # 2 shared 3-grams
            (3, "benchmark answer is forty two exactly she whispered"),   # 4 shared
        ],
        ["doc_id", "text"],
    )
    hits = {r.doc_id: r.n_hits for r in contamination_hits(corpus, bench, n=3).collect()}
    assert 1 not in hits and hits[2] >= 1 and hits[3] > hits[2]
    clean = {r.doc_id for r in decontaminate(corpus, bench, n=3).collect()}
    assert clean == {1}
    # min_overlap raises the bar
    strict = {r.doc_id for r in contamination_hits(corpus, bench, n=3, min_overlap=3).collect()}
    assert strict == {3}


def test_decontamination_custom_key_col(spark):
    """key_col must flow through hits AND the anti-join (review fix:
    the anti-join previously compared uid against a hardcoded doc_id)."""
    from pie_spark.prep.decontam import contamination_hits, decontaminate

    bench = spark.createDataFrame([(9, "shared contaminated phrase here")], ["doc_id", "text"])
    corpus = spark.createDataFrame(
        [("u1", "the shared contaminated phrase here too"), ("u2", "clean words only")],
        ["uid", "text"],
    )
    hits = {r.doc_id for r in contamination_hits(corpus, bench, key_col="uid").collect()}
    assert hits == {"u1"}
    clean = {r.uid for r in decontaminate(corpus, bench, key_col="uid").collect()}
    assert clean == {"u2"}


def test_redact_matches_python_reference_fuzz(spark):
    """Property: the native offset-fold equals a plain-Python splice for
    arbitrary text and sorted non-overlapping mentions."""
    import random

    rng = random.Random(42)
    alphabet = "ab @.-x0"
    spans, mentions, want = [], [], {}
    for doc in range(40):
        text = "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        ms, pos = [], 0
        while pos < len(text) and rng.random() < 0.7:
            start = rng.randint(pos, len(text) - 1)
            end = rng.randint(start + 1, len(text))
            ms.append((start, end, rng.choice(["A", "BB", "EMAIL"])))
            pos = end
        out, prev = [], 0
        for s, e, ty in ms:
            out.append(text[prev:s])
            out.append(f"[{ty}]")
            prev = e
        out.append(text[prev:])
        key = f"d{doc}"
        spans.append((key, 0, 0, text))
        mentions.extend((key, 0, s, e, ty) for s, e, ty in ms)
        want[key] = "".join(out)

    from pie_spark.extract.redact import redact_spans

    sdf = _spans(spark, spans)
    mdf = _mentions(spark, mentions) if mentions else _mentions(spark, [("x", 0, 0, 1, "A")]).limit(0)
    got = {r.doc_id: r.redacted for r in redact_spans(sdf, mdf).collect()}
    assert got == want


def test_pack_chunks_partitioning_free(spark):
    from pie_spark.prep.packing import pack_concat_chunks

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    a = sorted(map(tuple, pack_concat_chunks(d, 256, 4).collect()))
    b = sorted(map(tuple, pack_concat_chunks(d.repartition(17), 256, 4).collect()))
    assert a == b


def test_chunk_with_overlap_semantics(spark):
    import pandas as pd
    from pie_spark.prep.packing import chunk_with_overlap
    import pytest as _pt

    df = spark.createDataFrame(
        pd.DataFrame(
            [(1, "a b c d e f g h i j"), (2, "x y"), (3, "")],
            columns=["doc_id", "text"],
        )
    )
    got = {
        (r["doc_id"], r["chunk_idx"]): r["chunk_text"]
        for r in chunk_with_overlap(df, chunk_tokens=4, stride=3).collect()
    }
    # doc 1 (10 toks): starts 0,3,6,9 → windows overlap by 1
    assert got[(1, 0)] == "a b c d"
    assert got[(1, 1)] == "d e f g"
    assert got[(1, 2)] == "g h i j"
    assert got[(1, 3)] == "j"  # short tail kept
    assert got[(2, 0)] == "x y"
    assert all(d != 3 for d, _ in got)  # empty doc → no chunks

    with _pt.raises(ValueError):
        chunk_with_overlap(df, chunk_tokens=4, stride=5)


def test_prep_drill_counts_committed_snapshots(spark, tmp_path):
    """tools/prep_drill.py kills the job once ≥2 stage snapshots are
    committed; its probe must read the table's published metadata, or
    the kill branch never fires."""
    import os
    import sys

    from pie_spark.io.snapshots import SnapshotTable

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from prep_drill import _n_snapshots

    ck = str(tmp_path / "ck")
    assert _n_snapshots(ck) == 0  # not created yet
    t = SnapshotTable(ck)
    t.commit({"a": spark.range(3)})
    t.commit({"b": spark.range(4)})
    assert _n_snapshots(ck) == 2
