"""r07 mention-impossible gate (extract/fused.py): spans whose text is
pure ``[a-z ]`` are dropped JVM-side before the Arrow boundary. These
tests pin the gate's exactness claim: such spans yield ZERO mentions
from every detector, so filtering them cannot change any result."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

from pie_spark.extract.fused import _PURE_LOWER, _gate_applicable, fused_matches
from pie_spark.extract.gazetteer import AhoCorasick, find_gazetteer_matches
from pie_spark.extract.matchers import find_matches
from pie_spark.extract.tagger import tag_text
from pie_spark.fixtures import gazetteer as gz
from pie_spark.fixtures.gen import entity_dict_df


def _surfaces():
    return sorted({e.surface for e in gz.dictionary_entries()})


def test_gate_applicable_on_fixture_dictionary():
    # every fixture surface is capitalized → contains a char outside [a-z ]
    assert _gate_applicable(_surfaces())
    # a pure-lowercase surface must disable the gate
    assert not _gate_applicable(["acme corp"])
    assert _gate_applicable([])  # CRF+regex only (shard-fallback path)


def test_lowercase_soup_yields_no_mentions_any_detector():
    """Adversarial pure-[a-z ] texts built FROM the tagger lexicons
    (street suffixes / first / last names — the tokens with the weakest
    O-margins) must produce nothing from regex, gazetteer, or CRF."""
    ac = AhoCorasick(_surfaces())
    vocab = [
        w.lower()
        for w in (
            gz.FIRST_NAMES + gz.LAST_NAMES + gz.STREET_NAMES + list(gz.STREET_SUFFIXES)
        )
    ] + ["the", "a", "via", "main", "way", "street", "court", "lane", "drive"]
    rng = random.Random(7)
    for _ in range(3000):
        text = " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 16)))
        assert not _PURE_LOWER.search(text)
        assert find_matches(text) == []
        assert find_gazetteer_matches(text, ac) == []
        assert tag_text(text) == []


def test_gated_fused_equals_ungated_on_mixed_corpus(spark, monkeypatch):
    """fused_matches with the gate on ≡ gate forced off, on a corpus
    mixing gateable (pure lowercase) and non-gateable spans."""
    rows = [
        ("d0", 0, 0, "plain lowercase filler words only"),
        ("d0", 1, 40, "Call Alice Abernathy at (212) 555-0100"),
        ("d1", 0, 0, "main street way court lane"),
        ("d1", 1, 30, "mail a.b@example1.com and ssn 123-45-6789"),
        ("d2", 0, 0, "mixed Case span without plants"),
        ("d2", 1, 28, "another all lowercase tail"),
    ]
    txt = spark.createDataFrame(
        rows, "doc_id string, span_idx int, offset int, text string"
    )
    surfaces = [r["surface"] for r in entity_dict_df(spark).select("surface").collect()]
    gated = fused_matches(txt, spark, surfaces).collect()

    import pie_spark.extract.fused as fused_mod

    monkeypatch.setattr(fused_mod, "_gate_applicable", lambda s: False)
    ungated = fused_mod.fused_matches(txt, spark, surfaces).collect()
    key = lambda r: (r.doc_id, r.span_idx, r.start, r.end, r.detector, r.mention_type)
    assert sorted(gated, key=key) == sorted(ungated, key=key)
    assert len(gated) > 0


def test_gate_filter_present_in_plan(spark):
    import contextlib
    import io

    txt = spark.createDataFrame(
        [("d", 0, 0, "x")], "doc_id string, span_idx int, offset int, text string"
    )
    df = fused_matches(txt, spark, _surfaces())
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "RLIKE [^a-z ]" in buf.getvalue() or "rlike" in buf.getvalue().lower()
