"""Exact-integer PageRank (pie_spark/graph/pagerank.py): bit-exact
cross-implementation equality vs the independent Python replay,
partitioning invariance, planted-graph expectations (hub dominance,
dangling redistribution), degenerate inputs."""

from pyspark.sql import functions as F

from pie_spark.graph.pagerank import SCALE, pagerank, pagerank_reference


def _edges_df(spark, edge_list, parts=None):
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    return df.repartition(parts) if parts else df


def _ranks(df):
    return {r.node: r.rank_ppb for r in df.collect()}


def test_matches_python_reference_exactly(spark):
    # dictionary-shaped bipartite graph + a tail of chain edges
    edge_list = sorted(
        {(f"k{i % 17}", f"e{i % 7}") for i in range(60)}
        | {(f"e{i}", f"e{i + 1}") for i in range(6)}
    )
    got = _ranks(pagerank(_edges_df(spark, edge_list), iters=10))
    want = pagerank_reference(edge_list, iters=10)
    assert got == want  # every node, exact to the unit
    # repartition invariance: same integer ranks from any layout
    again = _ranks(pagerank(_edges_df(spark, edge_list, parts=13), iters=10))
    assert again == want


def test_star_hub_dominates_and_dangling_redistributes(spark):
    # N spokes all pointing at one hub; hub itself is DANGLING
    edge_list = [(f"s{i}", "hub") for i in range(20)]
    got = _ranks(pagerank(_edges_df(spark, edge_list), iters=8))
    assert got == pagerank_reference(edge_list, iters=8)
    assert got["hub"] == max(got.values())
    assert got["hub"] > 5 * got["s0"]
    # all spokes are symmetric
    assert len({v for k, v in got.items() if k != "hub"}) == 1
    # dangling hub's mass re-enters: spokes keep more than the bare
    # teleport floor (15% of scale)
    assert got["s0"] > (15 * SCALE) // 100


def test_two_node_cycle_is_symmetric_and_conserves(spark):
    edge_list = [("a", "b"), ("b", "a")]
    got = _ranks(pagerank(_edges_df(spark, edge_list), iters=25))
    assert got["a"] == got["b"]
    # closed cycle: mass loss only from integer-division residue
    assert abs(sum(got.values()) - 2 * SCALE) <= 25 * 4


def test_empty_and_single_edge(spark):
    empty = pagerank(
        spark.createDataFrame([], "src string, dst string"), iters=3
    )
    assert empty.count() == 0
    one = _ranks(pagerank(_edges_df(spark, [("a", "b")]), iters=5))
    assert one == pagerank_reference([("a", "b")], iters=5)
    assert one["b"] > one["a"]


def test_parallel_edges_are_multigraph(spark):
    # duplicate edge = two contributions; distinct-edge graph differs
    dup = [("a", "b"), ("a", "b"), ("a", "c")]
    got = _ranks(pagerank(_edges_df(spark, dup), iters=6))
    assert got == pagerank_reference(dup, iters=6)
    assert got["b"] > got["c"]


# -------------------------------------------------------- personalized


def test_ppr_matches_python_reference_exactly(spark):
    import random

    from pie_spark.graph.pagerank import (
        personalized_pagerank,
        personalized_pagerank_reference,
    )

    rng = random.Random(60610)
    nodes = [f"n{i:02d}" for i in range(14)]
    edges = sorted({tuple(rng.sample(nodes, 2)) for _ in range(40)})
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r.node: r.rank_ppb
        for r in personalized_pagerank(df, ["n00", "n03"], iters=8).collect()
    }
    assert got == personalized_pagerank_reference(edges, ["n00", "n03"], iters=8)


def test_ppr_mass_concentrates_on_seed_side(spark):
    # two triangles joined by one bridge: seeding the left triangle
    # must rank every left node above every right node
    from pie_spark.graph.pagerank import personalized_pagerank

    left = [("a", "b"), ("b", "c"), ("c", "a")]
    right = [("x", "y"), ("y", "z"), ("z", "x")]
    bridge = [("c", "x")]
    edges = left + right + bridge
    sym = edges + [(d, s) for s, d in edges]
    df = spark.createDataFrame(sym, ["src", "dst"])
    got = {
        r.node: r.rank_ppb
        for r in personalized_pagerank(df, ["a"], iters=12).collect()
    }
    assert min(got[n] for n in "abc") > max(got[n] for n in "xyz")


def test_ppr_absent_seed_raises(spark):
    import pytest as _pytest

    from pie_spark.graph.pagerank import personalized_pagerank

    df = spark.createDataFrame([("a", "b")], ["src", "dst"])
    with _pytest.raises(ValueError):
        personalized_pagerank(df, ["nope"], iters=2)


def test_full_seed_list_is_uniform_pagerank(spark):
    # |S| = n: per-seed base (15·n·scale) div n = 15·scale and the
    # dangling share div n are term for term the uniform update
    from pie_spark.graph.pagerank import (
        personalized_pagerank,
        personalized_pagerank_reference,
    )

    edge_list = sorted(
        {(f"k{i % 11}", f"e{i % 5}") for i in range(40)}
        | {("e0", "e1"), ("e1", "e2")}
    )
    nodes = sorted({n for e in edge_list for n in e})
    df = _edges_df(spark, edge_list)
    want = _ranks(pagerank(df, iters=7))
    assert _ranks(personalized_pagerank(df, nodes, iters=7)) == want
    assert personalized_pagerank_reference(edge_list, nodes, iters=7) == want
    assert pagerank_reference(edge_list, iters=7) == want
