"""G1 connected components vs pure-python union-find; salting
equivalence (§5.2 test_cc_unionfind)."""

import zlib

from pie_spark.canon.cc import connected_components
from pie_spark.canon.edges import build_edges
from pie_spark.canon.salting import salt_edges, strip_salted_nodes
from pie_spark.fixtures import gazetteer as gz
from pie_spark.fixtures.gen import entity_dict_df


def _unionfind(pairs):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # min element per component, two-pass
    mins = {}
    for x in list(parent):
        r = find(x)
        mins[r] = min(mins.get(r, x), x)
    return {x: mins[find(x)] for x in parent}


def _assert_matches_unionfind(spark, pairs, labels_df):
    want = _unionfind(pairs)
    got = {r["node"]: r["component"] for r in labels_df.collect()}
    assert got == want


def test_cc_simple_chain(spark):
    pairs = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    _assert_matches_unionfind(spark, pairs, connected_components(edges))


def test_cc_dictionary_graph_matches_golden(spark):
    edges = build_edges(entity_dict_df(spark))
    labels = connected_components(edges)
    got = {
        r["node"][2:]: r["component"][2:]
        for r in labels.collect()
        if r["node"].startswith("k:")
    }
    want = gz.golden_canonical_map()
    # component label is min node string = "e:<min entity>" when entity
    # ids sort below key strings; map through canonical entity instead:
    # verify partition equality — same keys grouped together
    by_comp_got = {}
    for k, c in got.items():
        by_comp_got.setdefault(c, set()).add(k)
    by_comp_want = {}
    for k, c in want.items():
        by_comp_want.setdefault(c, set()).add(k)
    assert set(map(frozenset, by_comp_got.values())) == set(
        map(frozenset, by_comp_want.values())
    )


def test_cc_salted_equals_unsalted(spark):
    # a hot hub node with many spokes + a chain through it
    pairs = [("hub", f"s{i:02d}") for i in range(40)] + [("s00", "tail"), ("q", "r")]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    plain = connected_components(edges)
    salted = strip_salted_nodes(
        connected_components(salt_edges(edges, ["hub"], salt_k=4))
    )
    assert sorted(plain.collect()) == sorted(salted.collect())


def test_adaptive_cc_driver_path_matches_distributed(spark):
    """adaptive_components fast path (union_find) ≡ distributed loop."""
    from pie_spark.canon.cc import adaptive_components, union_find

    edges = build_edges(entity_dict_df(spark))
    pairs = [(r["src"], r["dst"]) for r in edges.collect()]
    want = _unionfind(pairs)
    assert union_find(pairs) == want
    driver = adaptive_components(spark, edges, salt_k=1, driver_max_edges=10**6)
    assert {r["node"]: r["component"] for r in driver.collect()} == want
    dist = adaptive_components(spark, edges, salt_k=1, driver_max_edges=0)
    assert {r["node"]: r["component"] for r in dist.collect()} == want


def test_adaptive_cc_falls_back_when_oversized(spark):
    from pie_spark.canon.cc import adaptive_components

    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    labels = adaptive_components(spark, edges, salt_k=1, driver_max_edges=2)
    _assert_matches_unionfind(spark, pairs, labels)


def test_cc_random_graphs_match_unionfind(spark):
    """Property: distributed CC ≡ union-find on random graphs (sparse,
    dense, with self-loops and isolated chains), salted and unsalted."""
    import numpy as np

    from pie_spark.canon.cc import connected_components

    for seed in (0, 1):
        rng = np.random.default_rng(seed)
        n_nodes = 120
        n_edges = int(rng.integers(30, 260))
        pairs = [
            (f"n{int(rng.integers(0, n_nodes)):03d}", f"n{int(rng.integers(0, n_nodes)):03d}")
            for _ in range(n_edges)
        ]
        edges = spark.createDataFrame(pairs, ["src", "dst"])
        _assert_matches_unionfind(spark, pairs, connected_components(edges))
        # salt the 3 highest-degree nodes; labels must be unchanged
        from collections import Counter

        deg = Counter([a for a, _ in pairs] + [b for _, b in pairs])
        hot = [n for n, _ in deg.most_common(3)]
        salted = strip_salted_nodes(
            connected_components(salt_edges(edges, hot, salt_k=4))
        )
        _assert_matches_unionfind(spark, pairs, salted)


def test_cc_long_chain_converges_via_pointer_jumping(spark):
    """A 61-node path needs 60 propagation hops; pointer jumping must
    finish it within the default 20-iteration cap (O(log d))."""
    pairs = [(f"n{i:04d}", f"n{i+1:04d}") for i in range(60)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    labels = connected_components(edges, max_iters=20)
    assert {r["component"] for r in labels.collect()} == {"n0000"}


def test_cc_raises_on_nonconvergence(spark):
    import pytest

    pairs = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(40)]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iters=2)


def test_adaptive_cc_measured_degree_salting(spark):
    """r06: the distributed path salts hubs it MEASURES (degree probe ≥
    hot_degree_min) instead of trusting a caller list. A planted hub
    over the threshold must come back with the same labels as
    union-find."""
    from pie_spark.canon.cc import adaptive_components

    pairs = [("hub", f"l{i:03d}") for i in range(50)] + [
        ("a", "b"), ("b", "c"), ("x", "y")
    ]
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    # hub degree 50 ≥ threshold 40 → salted from measurement alone
    labels = adaptive_components(
        spark, edges, salt_k=4, driver_max_edges=0, hot_degree_min=40
    )
    _assert_matches_unionfind(spark, pairs, labels)


def _assert_incremental_matches_full(spark, old_pairs, delta_pairs, **kw):
    from pie_spark.canon.cc import connected_components, incremental_components

    old = connected_components(
        spark.createDataFrame(old_pairs, "src string, dst string")
    )
    delta = spark.createDataFrame(delta_pairs, "src string, dst string")
    got = incremental_components(spark, old, delta, **kw)
    _assert_matches_unionfind(spark, old_pairs + delta_pairs, got)


def test_incremental_cc_merges_two_old_components(spark):
    old = [("a", "b"), ("b", "c"), ("x", "y")]
    # the delta bridges {a,b,c} and {x,y}; every x/y row must relabel to "a"
    _assert_incremental_matches_full(spark, old, [("c", "x")])


def test_incremental_cc_new_node_becomes_min_label(spark):
    # new node "0new" sorts below every old node: the whole merged
    # component must relabel to it, including untouched old members
    old = [("m1", "m2"), ("m2", "m3")]
    _assert_incremental_matches_full(spark, old, [("m3", "0new")])


def test_incremental_cc_delta_inside_one_component_is_noop(spark):
    old = [("a", "b"), ("b", "c"), ("x", "y")]
    _assert_incremental_matches_full(spark, old, [("a", "c")])


def test_incremental_cc_disjoint_new_component_and_self_loop(spark):
    old = [("a", "b")]
    # q/r/s are brand-new; "z" arrives only as a self-loop and must
    # survive as a singleton (the self-loop filter edge case)
    _assert_incremental_matches_full(
        spark, old, [("q", "r"), ("r", "s"), ("z", "z")]
    )


def test_incremental_cc_empty_delta_returns_old_map(spark):
    old = [("a", "b"), ("x", "y")]
    _assert_incremental_matches_full(spark, old, [])
    # also via the distributed sub-solver path
    _assert_incremental_matches_full(spark, old, [], driver_max_edges=0)


def test_incremental_cc_random_graphs_match_full(spark):
    """Property: incremental(CC(old), delta) ≡ union-find(old ∪ delta)
    on random graphs and random splits, via BOTH sub-solver paths
    (driver union-find and the distributed loop)."""
    import numpy as np

    for seed in (7, 8):
        rng = np.random.default_rng(seed)
        pairs = [
            (f"n{int(rng.integers(0, 90)):03d}", f"n{int(rng.integers(0, 90)):03d}")
            for _ in range(int(rng.integers(40, 200)))
        ]
        cut = int(rng.integers(1, len(pairs) - 1))
        old_p, delta_p = pairs[:cut], pairs[cut:]
        _assert_incremental_matches_full(spark, old_p, delta_p)
        _assert_incremental_matches_full(spark, old_p, delta_p, driver_max_edges=0)
