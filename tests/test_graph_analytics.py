"""Triangle counting (graph/triangles.py) and k-core peeling
(graph/kcore.py): fuzz equality vs brute-force / independent Python
references, planted-structure expectations, orientation invariance,
degenerate inputs. Collocation lift (text/colloc.py) and the
k-anonymity audit (eval/kanon.py): hand-computed micro-fixtures +
mass invariants. Oracle parity for all four lives in test_oracle.py
(folded rows)."""

from __future__ import annotations

import itertools
import random

from pie_spark.eval.kanon import (
    anonymity_classes,
    generalization_ladder,
    kanon_report,
)
from pie_spark.graph.kcore import kcore, kcore_reference
from pie_spark.graph.triangles import (
    canonical_edges,
    clustering_coefficients,
    triangle_counts,
    triangles,
)
from pie_spark.text.colloc import collocation_lift, comention_edges


def _edges_df(spark, edge_list, parts=None):
    df = spark.createDataFrame(edge_list, ["src", "dst"])
    return df.repartition(parts) if parts else df


def _brute_triangles(edge_list):
    """Per-node triangle counts by exhaustive combination check."""
    adj: dict[str, set[str]] = {}
    for a, b in edge_list:
        a, b = str(a), str(b)
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict[str, int] = {}
    for u, v, w in itertools.combinations(sorted(adj), 3):
        if v in adj[u] and w in adj[u] and w in adj[v]:
            for n in (u, v, w):
                counts[n] = counts.get(n, 0) + 1
    return counts


# ---------------------------------------------------------------- triangles


def test_triangle_known_graphs(spark):
    # K4: every node is in C(3,2) = 3 triangles
    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    got = {r.node: r.n_triangles for r in triangle_counts(_edges_df(spark, k4)).collect()}
    assert got == {n: 3 for n in "abcd"}
    # star graph: hub + spokes, zero triangles
    star = [("hub", f"s{i}") for i in range(8)]
    assert triangle_counts(_edges_df(spark, star)).count() == 0
    # triangle + pendant: pendant not in output
    tri = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = {r.node: r.n_triangles for r in triangle_counts(_edges_df(spark, tri)).collect()}
    assert got == {"a": 1, "b": 1, "c": 1}


def test_triangle_fuzz_vs_brute_force(spark):
    rng = random.Random(60601)
    for trial in range(4):
        n = rng.randint(6, 14)
        nodes = [f"n{i}" for i in range(n)]
        edge_list = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.45
        ]
        if not edge_list:
            continue
        # duplicates / reversed duplicates / self-loops must be inert
        noisy = edge_list + [(b, a) for a, b in edge_list[::3]] + [("n0", "n0")]
        got = {
            r.node: r.n_triangles
            for r in triangle_counts(_edges_df(spark, noisy, parts=7)).collect()
        }
        assert got == _brute_triangles(edge_list), f"trial {trial}"


def test_triangle_corner_table_each_once(spark):
    # each triangle appears exactly once in the corner table, as a set
    k4 = [(a, b) for a, b in itertools.combinations("abcd", 2)]
    rows = triangles(_edges_df(spark, k4)).collect()
    tris = {frozenset((r.x, r.y, r.z)) for r in rows}
    assert len(rows) == len(tris) == 4
    assert all(len(t) == 3 for t in tris)


def test_canonical_edges_dedup(spark):
    e = canonical_edges(
        _edges_df(spark, [("b", "a"), ("a", "b"), ("a", "a"), ("a", "c")])
    ).collect()
    assert sorted((r.src, r.dst) for r in e) == [("a", "b"), ("a", "c")]


def test_clustering_coefficients(spark):
    # triangle with a pendant: a,b have deg 2 and 1 triangle → ppm 1e6;
    # c has deg 3, 1 triangle → 2e6·1 DIV (3·2) = 333333; d deg 1 → absent
    g = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    got = {
        r.node: (r.deg, r.n_triangles, r.cluster_ppm)
        for r in clustering_coefficients(_edges_df(spark, g)).collect()
    }
    assert got == {
        "a": (2, 1, 1_000_000),
        "b": (2, 1, 1_000_000),
        "c": (3, 1, 333_333),
    }
    # star: hub deg 4, zero triangles → coefficient 0; spokes deg 1 absent
    star = [("hub", f"s{i}") for i in range(4)]
    got = {
        r.node: r.cluster_ppm
        for r in clustering_coefficients(_edges_df(spark, star)).collect()
    }
    assert got == {"hub": 0}


# ------------------------------------------------------------------- k-core


def test_kcore_known_graphs(spark):
    # K5 minus one edge: 3-core keeps all 5 (min degree 3); 4-core is
    # the remaining K? — peel: two degree-3 nodes drop, then the rest
    # fall below 4 → empty
    k5 = [(a, b) for a, b in itertools.combinations("abcde", 2)]
    k5m = [e for e in k5 if e != ("a", "b")]
    got3 = {r.node: r.core_deg for r in kcore(_edges_df(spark, k5m), k=3).collect()}
    assert got3 == kcore_reference(k5m, k=3)
    assert set(got3) == set("abcde")
    assert kcore(_edges_df(spark, k5m), k=4).count() == 0
    # triangle with a chain tail: 2-core = the triangle only
    g = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")]
    got2 = {r.node: r.core_deg for r in kcore(_edges_df(spark, g), k=2).collect()}
    assert got2 == {"a": 2, "b": 2, "c": 2} == kcore_reference(g, k=2)


def test_kcore_fuzz_vs_reference(spark):
    rng = random.Random(60602)
    for trial in range(4):
        n = rng.randint(8, 16)
        nodes = [f"n{i}" for i in range(n)]
        edge_list = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.35
        ]
        for k in (2, 3, 4):
            got = {
                r.node: r.core_deg
                for r in kcore(_edges_df(spark, edge_list, parts=5), k=k).collect()
            }
            assert got == kcore_reference(edge_list, k=k), f"trial {trial} k={k}"


def test_kcore_requires_iterative_peeling(spark):
    # chain into a triangle: naive min-degree filter would keep c,d
    # (degree 2) but true 2-core peeling must cascade the chain away
    g = [("x1", "x2"), ("x2", "x3"), ("x3", "a"), ("a", "b"), ("b", "c"), ("a", "c")]
    got = {r.node: r.core_deg for r in kcore(_edges_df(spark, g), k=2).collect()}
    assert set(got) == {"a", "b", "c"}


def test_neighbor_jaccard_hand_computed(spark):
    from pie_spark.graph.similarity import (
        dropped_middle_stats,
        neighborhood_jaccard,
        neighborhood_jaccard_reference,
    )

    # square a-b-c-d-a: opposite corners share BOTH neighbors
    g = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")]
    got = {
        (r.a, r.b): (r.shared, r.jaccard_ppm)
        for r in neighborhood_jaccard(_edges_df(spark, g)).collect()
    }
    # (a,c): shared {b,d} = 2, union 2+2-2=2 → 1.0; adjacents share 0 → absent
    assert got == {("a", "c"): (2, 1_000_000), ("b", "d"): (2, 1_000_000)}
    assert got == neighborhood_jaccard_reference(g)
    # hub guard: star middles above the cut are excluded but FULL
    # degrees stay in the denominator — scores only shrink
    star = [("hub", f"s{i}") for i in range(6)] + [("s0", "s1")]
    with_hub = neighborhood_jaccard_reference(star, max_middle_degree=100)
    cut = {
        (r.a, r.b): (r.shared, r.jaccard_ppm)
        for r in neighborhood_jaccard(_edges_df(spark, star), max_middle_degree=5).collect()
    }
    assert cut == neighborhood_jaccard_reference(star, max_middle_degree=5)
    # hub (deg 6) dropped: spoke pairs lose their shared middle; only
    # pairs discovered via the surviving s0/s1 middles remain
    assert all(k in with_hub for k in cut)
    assert all(cut[k][1] <= with_hub[k][1] for k in cut)
    stats = dropped_middle_stats(_edges_df(spark, star), max_middle_degree=5).first()
    assert (stats.n_dropped_middles, stats.dropped_degree_mass) == (1, 6)


def test_neighbor_jaccard_fuzz(spark):
    from pie_spark.graph.similarity import (
        neighborhood_jaccard,
        neighborhood_jaccard_reference,
    )

    rng = random.Random(60604)
    for trial in range(3):
        n = rng.randint(7, 12)
        nodes = [f"n{i}" for i in range(n)]
        edge_list = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.4
        ]
        for cut in (3, 1000):
            got = {
                (r.a, r.b): (r.shared, r.jaccard_ppm)
                for r in neighborhood_jaccard(
                    _edges_df(spark, edge_list, parts=5), max_middle_degree=cut
                ).collect()
            }
            assert got == neighborhood_jaccard_reference(
                edge_list, max_middle_degree=cut
            ), f"trial {trial} cut={cut}"


# --------------------------------------------------------------------- BFS


def test_bfs_known_graph(spark):
    from pie_spark.graph.bfs import bfs_distances, bfs_reference

    # chain a-b-c-d plus a shortcut a-c: c settles at 1 via the shortcut
    g = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("x", "y")]
    got = {r.node: r.dist for r in bfs_distances(_edges_df(spark, g), ["a"]).collect()}
    assert got == {"a": 0, "b": 1, "c": 1, "d": 2} == bfs_reference(g, ["a"])
    # disconnected component unreachable; multi-source reaches it
    got2 = {
        r.node: r.dist
        for r in bfs_distances(_edges_df(spark, g), ["a", "x"]).collect()
    }
    assert got2 == {"a": 0, "x": 0, "b": 1, "c": 1, "y": 1, "d": 2}
    # a source absent from the edge set still settles at 0
    got3 = {
        r.node: r.dist
        for r in bfs_distances(_edges_df(spark, g), ["ghost"]).collect()
    }
    assert got3 == {"ghost": 0}


def test_bfs_fuzz_vs_reference(spark):
    from pie_spark.graph.bfs import bfs_distances, bfs_reference

    rng = random.Random(60603)
    for trial in range(3):
        n = rng.randint(8, 14)
        nodes = [f"n{i}" for i in range(n)]
        edge_list = [
            (a, b)
            for a, b in itertools.combinations(nodes, 2)
            if rng.random() < 0.22
        ]
        srcs = rng.sample(nodes, 2)
        got = {
            r.node: r.dist
            for r in bfs_distances(_edges_df(spark, edge_list, parts=5), srcs).collect()
        }
        assert got == bfs_reference(edge_list, srcs), f"trial {trial}"


# -------------------------------------------------------------- collocation


def test_collocation_lift_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (1, "x y"),
            (2, "x y"),
            (3, "x z"),
            (4, "z q"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.w1, r.w2): (r.pair_docs, r.lift_ppm)
        for r in collocation_lift(docs).collect()
    }
    # df: x=3 y=2 z=2 q=1; n_docs=4
    # (x,y): pair=2 → 4·2·1e6 // (3·2) = 1333333
    # (x,z): pair=1 → 4·1·1e6 // (3·2) = 666666
    # (q,z): pair=1 → 4·1·1e6 // (1·2) = 2000000
    assert got == {
        ("x", "y"): (2, 1333333),
        ("x", "z"): (1, 666666),
        ("q", "z"): (1, 2000000),
    }
    # lift above/below the 1e6 independence line matches PMI sign
    assert got[("x", "y")][1] > 1_000_000 > got[("x", "z")][1]


def test_comention_edges_threshold_and_vocab(spark):
    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(3)] + [(9, "a d")], ["doc_id", "text"]
    )
    e = comention_edges(docs, min_pair_docs=3)
    assert sorted((r.src, r.dst) for r in e.collect()) == [
        ("a", "b"), ("a", "c"), ("b", "c"),
    ]
    vocab = spark.createDataFrame([("a",), ("b",)], ["token"])
    lifted = collocation_lift(docs, min_pair_docs=1, vocab=vocab).collect()
    assert sorted((r.w1, r.w2) for r in lifted) == [("a", "b")]


def test_skipgram_counts_hand_computed(spark):
    from pie_spark.text.colloc import skipgram_counts

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b  a")], ["doc_id", "text"]  # double space: empty token dropped
    )
    got = {
        (r.w1, r.w2): (r.n_pairs, r.glove_weight_ppm)
        for r in skipgram_counts(docs, window=2).collect()
    }
    # doc1 pairs (dist): a→b(1), a→a(2); b→a(1), b→c(2); a→c(1); doc2: b→a(1)
    assert got == {
        ("a", "b"): (1, 1_000_000),
        ("a", "a"): (1, 500_000),
        ("b", "a"): (2, 2_000_000),
        ("b", "c"): (1, 500_000),
        ("a", "c"): (1, 1_000_000),
    }
    # partitioning invariance
    again = {
        (r.w1, r.w2): (r.n_pairs, r.glove_weight_ppm)
        for r in skipgram_counts(docs.repartition(7), window=2).collect()
    }
    assert again == got


def test_entity_comention_graph_from_pipeline_mentions(spark):
    """The KG-native path: the graph family runs on EXTRACTED ENTITY
    SURFACES, not just word tokens — mention table from the real
    extract_stage feeds mention_comention_edges, verified against a
    plain-Python recount of the same mentions."""
    import itertools as it

    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.pipeline import extract_stage
    from pie_spark.text.colloc import mention_comention_edges

    docs = interleaved_docs(spark, "/root/testdata/sf0.001")
    mentions, _ = extract_stage(spark, PipelineConfig(), docs, entity_dict_df(spark))
    edges = mention_comention_edges(mentions, min_pair_docs=2)
    got = sorted((r.src, r.dst) for r in edges.collect())
    assert got, "entity co-mention graph is empty"
    # independent recount over the collected mention incidence
    inc = {(r.doc_id, r.surface) for r in mentions.select("doc_id", "surface").collect()}
    per_doc: dict = {}
    for d, s in inc:
        per_doc.setdefault(d, set()).add(s)
    cnt: dict = {}
    for surfs in per_doc.values():
        for a, b in it.combinations(sorted(surfs), 2):
            cnt[(a, b)] = cnt.get((a, b), 0) + 1
    want = sorted(p for p, c in cnt.items() if c >= 2)
    assert got == want


# ------------------------------------------------------------- k-anonymity


def test_kanon_hand_computed(spark):
    rows = [
        # class (1, 'A'): 3 members, sensitive values {10, 10, 20} → l=2
        (1, "A", 10), (1, "A", 10), (1, "A", 20),
        # class (1, 'B'): 1 member → k=1 singleton, l=1
        (1, "B", 10),
        # class (2, 'A'): 2 members, same sensitive → l=1 (homogeneous)
        (2, "A", 30), (2, "A", 30),
    ]
    df = spark.createDataFrame(rows, ["qa", "qb", "sens"])
    classes = {
        (r.qa, r.qb): (r.class_size, r.l_distinct)
        for r in anonymity_classes(df, ["qa", "qb"], "sens").collect()
    }
    assert classes == {(1, "A"): (3, 2), (1, "B"): (1, 1), (2, "A"): (2, 1)}
    rep = {
        r.class_size: (r.n_classes, r.n_individuals, r.min_l, r.n_l1_classes)
        for r in kanon_report(df, ["qa", "qb"], "sens").collect()
    }
    assert rep == {3: (1, 3, 2, 0), 1: (1, 1, 1, 1), 2: (1, 2, 1, 1)}
    # histogram mass invariant: Σ n_individuals = N input rows
    assert sum(v[1] for v in rep.values()) == len(rows)


def test_generalization_ladder_hand_computed(spark):
    rows = [
        (1, "A", 10), (1, "A", 11), (1, "B", 12),
        (2, "A", 13),
    ]
    df = spark.createDataFrame(rows, ["qa", "qb", "qc"])
    got = {
        r.level: (r.n_classes, r.min_class_size, r.n_below_5)
        for r in generalization_ladder(df, ["qa", "qb", "qc"]).collect()
    }
    # level 3: 4 singleton classes; level 2: (1,A)=2 (1,B)=1 (2,A)=1;
    # level 1: qa=1 → 3, qa=2 → 1; level 0: one class of 4
    assert got == {
        3: (4, 1, 4),
        2: (3, 1, 3),
        1: (2, 1, 2),
        0: (1, 4, 1),
    }
    # coarsening monotonicity: min class size never shrinks up the ladder
    mins = [got[lvl][1] for lvl in sorted(got, reverse=True)]
    assert mins == sorted(mins)


def test_suppress_below_k(spark):
    from pie_spark.eval.kanon import suppress_below_k

    rows = [(1, "A"), (1, "A"), (1, "A"), (2, "B"), (2, "B"), (3, "C")]
    df = spark.createDataFrame(rows, ["qa", "qb"])
    kept = suppress_below_k(df, ["qa", "qb"], k=2).collect()
    assert sorted((r.qa, r.qb, r.class_size) for r in kept) == [
        (1, "A", 3), (1, "A", 3), (1, "A", 3), (2, "B", 2), (2, "B", 2),
    ]
    # every survivor's class really has >= k members; k above max wipes all
    assert suppress_below_k(df, ["qa", "qb"], k=4).count() == 0


def test_kanon_fixture_mass_invariant(spark):
    from pie_spark.queries import q_kanon_risk

    from .conftest import SF_DIR_01 as sf_dir

    rep = q_kanon_risk(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    assert sum(r.n_individuals for r in rep) == n
    assert all(r.n_individuals == r.class_size * r.n_classes for r in rep)
    assert all(r.min_l >= 1 and r.n_l1_classes <= r.n_classes for r in rep)


# ---------------------------------------------------- resource allocation


def test_resource_allocation_matches_reference_fuzz(spark):
    from pie_spark.graph.similarity import (
        resource_allocation,
        resource_allocation_reference,
    )

    rng = random.Random(60611)
    for _ in range(3):
        nodes = [f"n{i:02d}" for i in range(12)]
        edges = sorted({tuple(sorted(rng.sample(nodes, 2))) for _ in range(26)})
        df = _edges_df(spark, edges)
        got = {
            (r.a, r.b): (r.shared, r.ra_ppm)
            for r in resource_allocation(df).collect()
        }
        assert got == resource_allocation_reference(edges)


def test_resource_allocation_rare_middle_scores_higher(spark):
    from pie_spark.graph.similarity import resource_allocation

    # p-q share rare middle r (deg 2); x-y share busy middle h (deg 6)
    edges = [("p", "r"), ("q", "r"), ("x", "h"), ("y", "h")] + [
        ("h", f"z{i}") for i in range(4)
    ]
    got = {
        (r.a, r.b): r.ra_ppm
        for r in resource_allocation(_edges_df(spark, edges)).collect()
    }
    assert got[("p", "q")] == 1_000_000 // 2
    assert got[("x", "y")] == 1_000_000 // 6
    assert got[("p", "q")] > got[("x", "y")]


def test_resource_allocation_hub_guard_drops_lower_only(spark):
    from pie_spark.graph.similarity import (
        resource_allocation,
        resource_allocation_reference,
    )

    edges = [("hub", f"s{i}") for i in range(8)] + [
        ("s0", "m"), ("s1", "m"), ("s0", "k"), ("s1", "k")
    ]
    df = _edges_df(spark, edges)
    full = {
        (r.a, r.b): r.ra_ppm for r in resource_allocation(df, 100).collect()
    }
    guarded = {
        (r.a, r.b): r.ra_ppm for r in resource_allocation(df, 4).collect()
    }
    ref = {k: r for k, (s, r) in resource_allocation_reference(edges, 4).items()}
    assert guarded == ref
    # drops only lower: every surviving pair scores <= its full score
    for k, v in guarded.items():
        assert v <= full[k]
