"""Correctness fixes from ADVICE.md (r06 advisor), pinned:

1. every walker at walk_len <= 1 returns bare start nodes (reference
   parity at the degenerate parameter), and walks_per_node < 1 raises.
2. sssp_distances raises instead of silently returning non-converged
   distances when max_rounds is exhausted.
3. negatives: the packed min-election guard fails fast, n_neg or
   probes < 1 raises, and the vocab broadcast hint is dropped past
   BROADCAST_MAX_ENTS.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


EDGES = [("a", "b"), ("b", "c"), ("b", "d"), ("c", "a")]


def _walker(kind):
    """(spark walker, its reference, its edge rows, its schema) — the
    weighted walker gets the same graph with unit weights."""
    from pie_spark.graph import walks as W

    pairs, weighted = "src string, dst string", [(s, d, 1) for s, d in EDGES]
    return {
        "random": (W.random_walks, W.random_walks_reference, EDGES, pairs),
        "node2vec": (W.node2vec_walks, W.node2vec_walks_reference, EDGES, pairs),
        "weighted": (W.weighted_walks, W.weighted_walks_reference, weighted, pairs + ", w long"),
    }[kind]


@pytest.mark.parametrize("walk_len", [0, 1, 2])
@pytest.mark.parametrize("kind", ["random", "node2vec", "weighted"])
def test_degenerate_walk_len_matches_reference(spark, kind, walk_len):
    walks, reference, rows, schema = _walker(kind)
    e = spark.createDataFrame(rows, schema)
    got = sorted(
        (r.start, r.walk_no, r.path) for r in walks(e, walk_len=walk_len).collect()
    )
    want = sorted(reference(rows, walk_len=walk_len))
    assert got == want
    if walk_len <= 1:
        assert all(" " not in p for _, _, p in got)  # bare start nodes


@pytest.mark.parametrize("kind", ["random", "node2vec", "weighted"])
def test_zero_walks_per_node_rejected(spark, kind):
    # F.sequence(0, -1) counts down: without the guard every node got
    # walks 0 and -1 where the reference yields none
    walks, _, rows, schema = _walker(kind)
    e = spark.createDataFrame(rows, schema)
    with pytest.raises(ValueError, match="walks_per_node"):
        walks(e, walks_per_node=0)


@pytest.mark.parametrize("kw", [{"n_neg": 0}, {"probes": 0}], ids=["n_neg", "probes"])
def test_zero_negative_counts_rejected(spark, kw):
    from pie_spark.graph import negatives as N

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], "subj string, pred string, obj string"
    )
    w = spark.createDataFrame([("a", 1), ("b", 2), ("c", 3)], "entity string, w long")
    with pytest.raises(ValueError, match="must both be >= 1"):
        N.transe_negatives(t, **kw)
    with pytest.raises(ValueError, match="must both be >= 1"):
        N.weighted_negatives(t, w, **kw)


def test_sssp_raises_when_rounds_exhausted(spark):
    from pie_spark.graph.sssp import sssp_distances

    chain = [(f"n{i}", f"n{i+1}", 1) for i in range(6)]
    e = spark.createDataFrame(chain, "src string, dst string, w long")
    # converges fine with headroom…
    ok = {r.node: r.dist for r in sssp_distances(e, ["n0"], max_rounds=10).collect()}
    assert ok["n6"] == 6
    # …raises (not silently wrong) when the cap is too small
    with pytest.raises(RuntimeError, match="did not converge"):
        sssp_distances(e, ["n0"], max_rounds=2)


def test_negatives_pack_guard_fails_fast(spark):
    from pie_spark.graph import negatives as N

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c")], "subj string, pred string, obj string"
    )
    with pytest.raises(ValueError, match="probes"):
        N.transe_negatives(t, probes=1 << 23)
    with pytest.raises(ValueError, match="vocabulary"):
        N._check_pack(N.PACK, probes=3)


def test_negatives_broadcast_hint_gated(spark, monkeypatch):
    from pie_spark.graph import negatives as N

    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c")],
        "subj string, pred string, obj string",
    )
    ref = sorted(map(tuple, N.transe_negatives(t).collect()))

    def plan_of(df):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("simple")
        return buf.getvalue()

    # force the over-threshold path: hint dropped, results identical
    monkeypatch.setattr(N, "BROADCAST_MAX_ENTS", 0)
    out = N.transe_negatives(t)
    assert sorted(map(tuple, out.collect())) == ref
    assert "ResolvedHint" not in plan_of(out)
