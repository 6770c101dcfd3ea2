"""T3/W3 overlap dedup semantics on a hand-built mention set (§5.2)."""

import pytest
from pyspark.sql import functions as F

from pie_spark.extract.merge import merge_mentions
from pie_spark.schemas import MENTION_SCHEMA


def _df(spark, rows):
    return spark.createDataFrame(rows, schema=MENTION_SCHEMA)


def test_overlap_priority_and_longest(spark):
    rows = [
        # regex EMAIL vs crf PERSON overlapping → regex wins
        ("d1", 0, 0, 10, 25, "EMAIL", "x@a.com________", "regex", 1.0),
        ("d1", 0, 0, 10, 20, "PERSON", "x@a.com___", "crf", 0.7),
        # gazetteer long vs gazetteer short (nested) → longest wins
        ("d1", 1, 0, 5, 25, "PERSON", "Alice Abernathy Jr._", "gazetteer", 0.9),
        ("d1", 1, 0, 5, 20, "PERSON", "Alice Abernathy", "gazetteer", 0.9),
        # disjoint mention survives independently
        ("d1", 1, 0, 40, 50, "PERSON", "Mei Novak_", "gazetteer", 0.9),
    ]
    out = merge_mentions(_df(spark, rows)).orderBy("span_idx", "start").collect()
    assert [(r.span_idx, r.start, r.detector, r.mention_type) for r in out] == [
        (0, 10, "regex", "EMAIL"),
        (1, 5, "gazetteer", "PERSON"),
        (1, 40, "gazetteer", "PERSON"),
    ]
    assert out[1].end == 25  # the longer gazetteer span won


def test_chain_overlap_single_winner(spark):
    # a–b overlap, b–c overlap, a–c don't: still one chain → one winner
    rows = [
        ("d2", 0, 0, 0, 10, "PERSON", "AAAAAAAAAA", "crf", 0.7),
        ("d2", 0, 0, 8, 18, "PERSON", "BBBBBBBBBB", "gazetteer", 0.9),
        ("d2", 0, 0, 16, 26, "PERSON", "CCCCCCCCCC", "crf", 0.7),
    ]
    out = merge_mentions(_df(spark, rows)).collect()
    assert len(out) == 1
    assert out[0].detector == "gazetteer"


def test_union_of_multiple_frames(spark):
    a = _df(spark, [("d3", 0, 0, 0, 5, "EMAIL", "e@a.io", "regex", 1.0)])
    b = _df(spark, [("d3", 0, 0, 10, 15, "PERSON", "Mei N", "gazetteer", 0.9)])
    assert merge_mentions(a, b).count() == 2


def test_mention_id_stable(spark):
    rows = [("d4", 2, 100, 3, 9, "SSN", "s", "regex", 1.0)]
    a = merge_mentions(_df(spark, rows)).collect()[0].mention_id
    b = merge_mentions(_df(spark, rows).repartition(4)).collect()[0].mention_id
    assert a == b


def test_detect_all_batch_equals_per_text():
    import duckdb

    from pie_spark.extract.fused import detect_all, detect_all_batch
    from pie_spark.extract.gazetteer import AhoCorasick
    from pie_spark.fixtures import gazetteer as gz
    from pie_spark.fixtures.gen import gen_doc

    ac = AhoCorasick(sorted({e.surface for e in gz.dictionary_entries()}))
    rows = duckdb.sql(
        "select doc_id, text from '/root/testdata/sf0.001/documents.parquet' limit 200"
    ).fetchall()
    texts = []
    for d, t in rows:
        texts += [s["text"] for s in gen_doc(str(d), t).spans if s["kind"] == "text"]
    texts.append(None)
    got = detect_all_batch(texts, ac, True, True)
    want = [detect_all(t, ac, True, True) if t is not None else [] for t in texts]
    assert got == want


def test_fused_udf_builds_automaton_once_per_worker(monkeypatch):
    """The fused UDF is shipped by value (cloudpickle); each task
    unpickles it anew. Two round trips in one process stand for two
    tasks on one reused Python worker: the automaton must be built once,
    not once per task (the worker cache must not travel with the UDF)."""
    import types

    import pandas as pd
    from pyspark import cloudpickle

    from pie_spark.extract import gazetteer
    from pie_spark.extract.fused import detector_udf_fn

    builds = []

    class CountingAhoCorasick(gazetteer.AhoCorasick):
        def __init__(self, patterns):
            builds.append(list(patterns))
            super().__init__(patterns)

    monkeypatch.setattr(gazetteer, "AhoCorasick", CountingAhoCorasick)
    monkeypatch.setattr(gazetteer, "_AC_CACHE", {})
    surfaces = types.SimpleNamespace(value=["Mei Novak"])
    fn = detector_udf_fn(surfaces, 12345, True, False)
    for _ in range(2):
        task_fn = cloudpickle.loads(cloudpickle.dumps(fn))
        (out,) = list(task_fn(iter([pd.Series(["met Mei Novak today"])])))
        assert [m["surface"] for m in out[0] if m["detector"] == "gazetteer"] == ["Mei Novak"]
    assert builds == [["Mei Novak"]]
