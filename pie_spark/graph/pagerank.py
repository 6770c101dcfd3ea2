"""Entity-importance PageRank over the knowledge graph (KG analytics).

Once triples are materialized, the first question a KG consumer asks is
"which entities matter" — for linker prior boosts, canonical-election
tie weighting, and hot-key pre-detection (a high-rank entity IS a
skew-risk join key). This is the classic power-iteration PageRank as
pure DataFrame ops, engineered for the same determinism bar as the
rest of the repo: EXACT integer arithmetic end to end, so the result
is bit-identical across partitionings, engines, and rounds — no float
summation order, no RNG.

Integer recipe (mirrors centroids/HLL/X16 precedent):
  * ranks are LONG in ``scale`` units (default ppb); every node starts
    at ``scale`` (PageRank is scale-invariant, so per-node base 1.0
    avoids init division remainders).
  * contribution of u to each out-neighbor: rank(u) div outdeg(u) —
    SQL integer division, NOT double `/` + cast (doubles lose
    exactness past 2^53); the ≤ outdeg−1 residue is deliberately
    dropped and the replay drops it identically.
  * dangling nodes (outdeg 0) redistribute uniformly:
    dangling_share = (Σ dangling ranks) div n_nodes — ONE 1-row
    bounded driver agg per iteration.
  * new_rank = (15·scale + 85·(inflow + dangling_share)) div 100
    (d = 0.85 as the exact rational 85/100).

One power iteration serves both variants: personalized PageRank lands
the teleport and dangling mass on a seed set S only, and uniform
PageRank is the case S = every node, where the per-seed base
(15·n·scale) div n is exactly 15·scale and the per-seed dangling share
is exactly dangling_share.

Exactness envelope: per-node rank is bounded by total mass n·scale,
so every intermediate (85·(inflow+share)) stays inside LONG while
85·n·scale < 2^63 — ppb covers graphs to ~10^8 nodes; at the 10^12-node
design point pass scale=10^3 (same determinism, coarser mass units).

Scale shape (10^12-edge design point):
  * per iteration: ranks ⋈ edges on src (ranks is the V-sized side —
    edges are repartitioned by src ONCE up front and stay put; only
    the small table moves per iteration), then groupBy(dst).sum — an
    algebraic agg, so map-side partial aggregation collapses hot-node
    inflow floods BEFORE the shuffle (same reason min-label CC
    tolerates hubs), and AQE skew-join splitting covers the join side.
  * `localCheckpoint(eager=True)` per iteration truncates the growing
    plan (§7.3 lineage trap).
  * fixed iteration count (caller-chosen) — deterministic output; the
    driver-side data per iteration is exactly two longs (dangling
    mass probe), never rows.

Oracle strategy: `personalized_pagerank_reference` is an independent
plain-Python replay (dict-based, same integer ops).
tests/test_pagerank.py pins Spark ≡ Python exactly; the folded
driver-style oracle inlines the replay over the closed-form fixture
dictionary graph as VALUES (the Lloyd/k-means precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000_000  # ppb
D_NUM, D_DEN = 85, 100  # damping 0.85 as an exact rational


def pagerank(edges: DataFrame, iters: int = 10, scale: int = SCALE) -> DataFrame:
    """(node, rank_ppb) after ``iters`` exact-integer power iterations:
    :func:`personalized_pagerank` with every node a seed.

    ``edges`` is a directed (src, dst) table; duplicate edges count as
    parallel edges (each carries its own contribution), matching the
    multigraph semantics of mention-derived KGs.
    """
    return personalized_pagerank(edges, iters=iters, scale=scale)


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str] | None = None,
    iters: int = 10,
    scale: int = SCALE,
) -> DataFrame:
    """(node, rank_ppb): topic-sensitive (personalized) PageRank — the
    teleport mass (1−d) and the dangling mass land ONLY on ``seeds``
    (uniformly), so rank measures proximity to the seed set: the
    entity-centric relevance score for linker priors around a known
    person cluster and for seed-expansion ("what else belongs to this
    identity").

    Per-seed teleport base kept under the shared final div:

        new_rank(v) = (base(v) + 85·(inflow(v) + dang(v))) div 100
        base(v)  = (15·n·scale) div |S|   if v ∈ S else 0
        dang(v)  = dangling_mass div |S|  if v ∈ S else 0

    ``seeds=None`` means every node (|S| = n): base = 15·scale and
    dang = dangling_mass div n, term for term the uniform update, so
    :func:`pagerank` is this loop; an empty graph gives an empty result.

    Exactness envelope is TIGHTER than uniform PageRank: mass
    concentrates on seeds, so a seed's pre-div term approaches
    100·n·scale — ppb scale covers ~10^7 nodes; pass scale=10^3 beyond
    (same determinism, coarser mass units). Seeds absent from the
    graph are ignored; raises ValueError if none remain.

    Oracle strategy: ``personalized_pagerank_reference`` plain-Python
    replay, pinned bit-equal in tests; folded driver row replays it
    over the DuckDB-read co-mention edges as VALUES.
    """
    edges = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    # node set + out-degrees: computed once, V-sized
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("outdeg")
    )
    is_seed = F.lit(True)
    if seeds is not None:
        wanted = sorted({str(s) for s in seeds})
        present = sorted(
            r.node for r in nodes.filter(F.col("node").isin(wanted)).collect()
        )  # bounded: ≤ |seeds| rows
        if not present:
            raise ValueError("personalized_pagerank: no seed present in the graph")
        is_seed = F.col("node").isin(present)
    ranks = (
        nodes.join(outdeg, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("outdeg"), F.lit(0)).cast("long").alias("outdeg"),
            is_seed.alias("is_seed"),
            F.lit(scale).cast("long").alias("rank_ppb"),
        )
        .localCheckpoint(eager=True)
    )
    n_nodes = ranks.count()  # bounded: one long
    if n_nodes == 0:
        return ranks.select("node", "rank_ppb")
    n_seeds = n_nodes if seeds is None else len(present)
    base_seed = ((D_DEN - D_NUM) * n_nodes * scale) // n_seeds
    # the big side: repartitioned by the join key ONCE; every
    # iteration's join reuses this layout while the V-sized rank table
    # is what shuffles
    edges = edges.repartition("src").localCheckpoint(eager=True)

    for _ in range(iters):
        # dangling mass: one 1-row driver agg (one long crosses)
        dang = (
            ranks.filter(F.col("outdeg") == 0)
            .agg(F.coalesce(F.sum("rank_ppb"), F.lit(0)).alias("m"))
            .collect()[0]["m"]
        )
        share_seed = int(dang) // n_seeds
        inflow = (
            edges.join(
                ranks.filter(F.col("outdeg") > 0).select(
                    F.col("node").alias("src"),
                    F.expr("rank_ppb div outdeg").alias("contrib"),
                ),
                "src",
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("contrib").cast("long").alias("inflow"))
        )
        ranks = (
            ranks.join(inflow, "node", "left")
            .select(
                "node",
                "outdeg",
                "is_seed",
                F.expr(
                    f"(CASE WHEN is_seed THEN CAST({base_seed} AS BIGINT)"
                    f" ELSE CAST(0 AS BIGINT) END"
                    f" + {D_NUM} * (coalesce(inflow, 0)"
                    f" + CASE WHEN is_seed THEN {share_seed} ELSE 0 END))"
                    f" div {D_DEN}"
                ).alias("rank_ppb"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", "rank_ppb")


def personalized_pagerank_reference(
    edge_list: list[tuple[str, str]],
    seeds: list[str] | None = None,
    iters: int = 10,
    scale: int = SCALE,
) -> dict[str, int]:
    """Independent plain-Python replay of ``personalized_pagerank`` —
    same integer recipe, kept free of the Spark code paths so test
    equality is a real cross-implementation check."""
    nodes = sorted({s for s, _ in edge_list} | {d for _, d in edge_list})
    outdeg = {n: 0 for n in nodes}
    for s, _ in edge_list:
        outdeg[s] += 1
    seed = set(nodes) if seeds is None else {str(s) for s in seeds} & set(nodes)
    if seeds is not None and not seed:
        raise ValueError("personalized_pagerank: no seed present in the graph")
    if not nodes:
        return {}
    n_seeds = len(seed)
    ranks = {n: scale for n in nodes}
    base_seed = ((D_DEN - D_NUM) * len(nodes) * scale) // n_seeds
    for _ in range(iters):
        dang = sum(r for n, r in ranks.items() if outdeg[n] == 0)
        share_seed = dang // n_seeds
        inflow = {n: 0 for n in nodes}
        for s, d in edge_list:
            inflow[d] += ranks[s] // outdeg[s]
        ranks = {
            n: (
                (base_seed if n in seed else 0)
                + D_NUM * (inflow[n] + (share_seed if n in seed else 0))
            )
            // D_DEN
            for n in nodes
        }
    return ranks


def pagerank_reference(
    edge_list: list[tuple[str, str]], iters: int = 10, scale: int = SCALE
) -> dict[str, int]:
    """Plain-Python replay of :func:`pagerank`."""
    return personalized_pagerank_reference(edge_list, iters=iters, scale=scale)
