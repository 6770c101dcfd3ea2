"""G1: distributed connected components (SURVEY.md §2.8; BASELINE.json:6
"canonicalizes surface forms via salted-key connected-components
clustering").

No GraphFrames in the sandbox, so CC is pure DataFrame ops:
**min-label propagation** — every node repeatedly takes the minimum
label over itself and its neighbors until a fixed point.

Scale design (10^12-doc design point, BASELINE.json:14):
  * each iteration is one join (labels ⋈ edges) + one `groupBy(node).
    agg(min(label))`. `min` is algebraic, so Spark's partial (map-side)
    aggregation collapses hot-node message floods *before* the shuffle
    — the classic CC skew pain point — and AQE skew-join splitting
    (enabled in the session factory) covers the join side. For
    adversarially hot nodes the caller can pre-salt via
    pie_spark.canon.salting.salt_edges (splits a hot node into K
    star-connected siblings, provably component-preserving).
  * `localCheckpoint(eager=True)` per iteration truncates the plan
    lineage — without it the logical plan doubles each round (§7.3).
  * convergence = count of changed labels, a cheap driver-side long;
    iterations bounded by graph diameter (alias graphs: ≤ a few hops)
    with a hard cap as a backstop.
  * ``iter_stats`` (bench hook): pass a list to receive one
    {"iter", "changed", "wall_sec"} dict per iteration — the cc_skew
    bench uses it to compare salted vs unsalted convergence on a
    planted hot component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pie_spark.session import local_frame

LABEL_SCHEMA = T.StructType(
    [T.StructField("node", T.StringType()), T.StructField("component", T.StringType())]
)


def connected_components(
    edges: DataFrame,
    max_iters: int = 20,
    iter_stats: list[dict] | None = None,
) -> DataFrame:
    """edges(src, dst) → labels(node, component) with component = min
    node id (string order) in the component. Deterministic.

    Per-iteration cost: ONE join (labels→neighbors) + ONE partial-agg
    groupBy, then ONE pointer-jump self-join (label ← min(label,
    label-of-label) — Kiveris-style shortcutting). The jump makes
    convergence O(log diameter) instead of O(diameter), so long alias
    chains (pathological at web scale) finish within ``max_iters`` = 20
    ⇒ diameters up to ~2^20. The previous label rides along inside the
    aggregation (``max(old)`` — each node contributes exactly one self
    row), so the convergence check is a cheap count over checkpointed
    data. Raises instead of returning silently-wrong labels if the
    iteration cap is ever hit.
    """
    und = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    und = und.localCheckpoint(eager=True)

    labels: DataFrame | None = None  # identity until iteration 0 runs

    import time as _time

    for _it in range(max_iters):
        _t0 = _time.perf_counter()
        if labels is None:
            # Iteration 0 against IDENTITY labels needs no label table
            # and no join (r07): every node is its own label, so the
            # message multiset is the edge list itself and the self rows
            # are the src endpoints (duplicates per degree are harmless
            # under min/max). This removes the labels-init distinct+
            # checkpoint job AND the first — on hot graphs the heaviest
            # — iteration join entirely; `changed` semantics are
            # untouched (old = node, exactly what identity labels gave).
            self_rows = und.select(
                F.col("src").alias("node"),
                F.col("src").alias("label"),
                F.col("src").alias("old"),
            )
            msgs = und.select(
                F.col("dst").alias("node"),
                F.col("src").alias("label"),
                F.lit(None).cast("string").alias("old"),
            )
        else:
            msgs = und.join(labels, und.src == labels.node).select(
                F.col("dst").alias("node"), "label",
                F.lit(None).cast("string").alias("old"),
            )
            self_rows = labels.select("node", "label", F.col("label").alias("old"))
        mins = (
            self_rows.union(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .localCheckpoint(eager=True)
        )
        # pointer jump: every label is itself a node id with a row in
        # ``mins`` (labels only ever take node-id values), so one
        # self-join fetches label-of-label. The checkpoint stays EAGER
        # (r07 audit): a lazy variant (result pass folded into the
        # ``new`` job) looked ~0.05 s/iter faster in isolation but was
        # consistently ~0.3 s SLOWER per query under the bench session's
        # protocol, and an un-checkpointed exchange-reuse variant ran
        # the join+agg twice (the jump side is column-pruned
        # differently, so ReusedExchange never fires). Measured, kept.
        jump = mins.select(F.col("node").alias("jn"), F.col("label").alias("jl"))
        new = (
            mins.join(jump, mins.label == jump.jn, "left")
            .select(
                "node",
                F.least("label", F.coalesce("jl", "label")).alias("label"),
                "old",
            )
            .localCheckpoint(eager=True)
        )
        changed = new.filter(F.col("label") != F.col("old")).count()
        if iter_stats is not None:
            iter_stats.append(
                {
                    "iter": _it,
                    "changed": changed,
                    "wall_sec": round(_time.perf_counter() - _t0, 3),
                }
            )
        labels = new.select("node", "label")
        if changed == 0:
            return labels.withColumnRenamed("label", "component")
    raise RuntimeError(
        f"connected_components did not converge within {max_iters} iterations "
        f"(graph diameter > ~2^{max_iters}); raise max_iters"
    )


def union_find(edge_rows: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find: node → component (= min node id, string
    order). Semantically identical to :func:`connected_components`; the
    unit tests assert equality on the same edge lists."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def adaptive_components(
    spark: SparkSession,
    edges: DataFrame,
    salt_k: int = 8,
    max_iters: int = 20,
    driver_max_edges: int = 5_000_000,
    hot_degree_min: int = 1_000_000,
    hot_max: int = 1_000,
) -> DataFrame:
    """Size-adaptive CC, the analogue of Spark's broadcast-vs-shuffle
    join choice (SURVEY.md §4): the CC input here is the *dictionary*
    graph — by spec small enough to broadcast to every worker
    (BASELINE.json:6 "broadcast dictionary") — so when it fits under
    ``driver_max_edges`` we run exact union-find driver-side in
    milliseconds instead of scheduling a multi-job distributed loop.
    Above the threshold (billion-key dictionaries at the 10^12-doc
    design point) it falls back to the salted distributed loop. Both
    paths produce identical (node, component=min-node) labels.

    The probe and the collect are ONE ``limit(N+1).toArrow()`` job: an
    oversized graph ships at most one row past the cap before falling
    back, and the under-cap case never computes the edge lineage twice.
    Arrow plain strings, not pyspark Row objects (~10x lighter per edge
    on the driver heap). The union-find labels go back the same way: an
    Arrow-built local relation (``LocalTableScan`` via
    :func:`pie_spark.session.local_frame`), so the canon stage's scans
    of them never start a Python task.

    Salting on the distributed path is chosen from MEASURED degree
    stats (VERDICT r05 next#3), not a caller-supplied guess: one
    partial-agg degree pass over the edges (map-side combinable count,
    ~one CC-iteration's cost) finds nodes with degree ≥
    ``hot_degree_min``, and exactly those are salted. The threshold is
    the measured crossover on this box (BENCH/BASELINE.md r06
    ``cc_skew`` ladder, labels identical at every point): a planted
    hot star is FLAT at 10^5–10^6 edges (min-label partial agg absorbs
    the hub map-side; 9.5 vs 8.9 s, 14.8 vs 14.2 s) and salting wins
    1.9× at 10^7 (166 vs 90 s — the iteration JOIN on the hub key is
    what skews, and AQE's split caps out before per-sibling
    parallelism does). Below the threshold nothing is salted and the
    loop runs clean. The collect is limit(``hot_max``)-bounded.
    """
    if driver_max_edges > 0:
        # ONE job: Arrow-collect at most N+1 rows (plain strings, not Row
        # objects); > N rows means oversized → distributed path, and only
        # that one extra row was ever shipped
        tbl = edges.select("src", "dst").limit(driver_max_edges + 1).toArrow()
        if tbl.num_rows <= driver_max_edges:
            labels = union_find(
                list(zip(tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()))
            )
            nodes = sorted(labels)
            return local_frame(spark, LABEL_SCHEMA, [nodes, [labels[n] for n in nodes]])
    from pie_spark.canon.salting import salt_edges, strip_salted_nodes

    # measured hubs: ONE partial-agg pass (undirected degree), a
    # bounded collect of at most hot_max node ids
    ends = edges.select(F.col("src").alias("node")).union(
        edges.select(F.col("dst").alias("node"))
    )
    hot = sorted(
        r["node"]
        for r in ends.groupBy("node")
        .count()
        .filter(F.col("count") >= hot_degree_min)
        .orderBy(F.desc("count"), "node")
        .limit(hot_max)
        .collect()
    )
    salted = salt_edges(edges, hot, salt_k)
    return strip_salted_nodes(connected_components(salted, max_iters))


def incremental_components(
    spark: SparkSession,
    old_labels: DataFrame,
    delta_edges: DataFrame,
    max_iters: int = 20,
    driver_max_edges: int = 5_000_000,
) -> DataFrame:
    """G1-incremental: merge a DELTA of new alias edges into an existing
    canonical map without recomputing CC over the whole graph (r06).

    At the 10^12-doc design point a standing landing zone never reruns
    full CC per ingest epoch — the canonical map is a snapshot-table
    asset and each micro-batch contributes a small set of new edges.
    This operator updates the map touching the BIG side only twice, with
    zero shuffles of it:

      1. contract: map delta endpoints through their old components —
         ``old_labels ⋈ broadcast(delta endpoints)`` (scan #1 of the big
         map; broadcast hash join, no shuffle). Endpoints absent from
         the map are brand-new nodes and stay themselves.
      2. solve small: run CC on the CONTRACTED delta graph, whose node
         space is {touched old component ids} ∪ {new nodes} — size
         O(|delta|), independent of corpus size. Reuses
         :func:`adaptive_components`, so a tiny delta is driver-side
         union-find and a huge one gets the salted distributed loop.
      3. relabel: old component ids that merged map to their new
         component; the final map is ``old_labels LEFT JOIN
         broadcast(relabel)`` on *component* (scan #2, broadcast again)
         unioned with the new nodes' labels.

    Correctness invariant (pinned by tests/test_cc.py and the
    ``cc_incremental`` driver row): the result is EXACTLY
    ``connected_components(old_edges ∪ delta_edges)``. Why: every old
    component id is the min member of its component, so min-label over
    the contracted node set {component ids ∪ new node ids} equals
    min-label over the full merged node set; components untouched by the
    delta keep their label because the relabel map only contains touched
    component ids.

    ``old_labels`` must be a complete (node, component) map whose
    component ids are min members — i.e. output of any CC in this
    module. ``delta_edges`` is (src, dst), arbitrary overlap with the
    old node set.
    """
    und = delta_edges.select("src", "dst")
    touched = (
        und.select(F.col("src").alias("node"))
        .union(und.select(F.col("dst").alias("node")))
        .distinct()
    )
    # scan #1 of the big map: labels of touched nodes only (small —
    # ≤ 2·|delta| rows), eagerly materialized so the three consumers
    # below don't re-scan old_labels
    touched_labels = old_labels.join(F.broadcast(touched), "node").localCheckpoint(
        eager=True
    )
    src_m = touched_labels.select(F.col("node").alias("src"), F.col("component").alias("_sc"))
    dst_m = touched_labels.select(F.col("node").alias("dst"), F.col("component").alias("_dc"))
    contracted = (
        delta_edges.join(F.broadcast(src_m), "src", "left")
        .join(F.broadcast(dst_m), "dst", "left")
        .select(
            F.coalesce("_sc", "src").alias("src"),
            F.coalesce("_dc", "dst").alias("dst"),
        )
        # an edge inside one old component contracts to a self-loop:
        # nothing to solve, and dropping it keeps the sub-graph minimal
        .filter(F.col("src") != F.col("dst"))
    )
    sub = adaptive_components(
        spark, contracted, max_iters=max_iters, driver_max_edges=driver_max_edges
    )
    old_cids = touched_labels.select(F.col("component").alias("node")).distinct()
    # touched old components → their post-merge label (tiny, broadcast).
    # Lazy checkpoints (r07): these delta-sized frames materialize while
    # the final job builds its broadcasts instead of each costing a
    # separate eager job — plan shape (broadcast-only, zero hash
    # exchanges over the big map) is unchanged and stays pinned by
    # tests/test_plans.py.
    relabel = (
        sub.join(F.broadcast(old_cids), "node")
        .select(F.col("node").alias("component"), F.col("component").alias("_new"))
        .localCheckpoint(eager=False)
    )
    # contracted nodes that are NOT old component ids are brand-new
    new_nodes = (
        sub.join(F.broadcast(old_cids), "node", "left_anti")
        .select("node", "component")
        # a brand-new node whose only delta edge was a self-loop never
        # reaches the contracted graph (the self-loop filter drops it)
        # but IS a node of the merged graph — recover it as a singleton.
        # All three inputs here are delta-sized.
        .unionByName(
            touched.join(touched_labels.select("node"), "node", "left_anti")
            .join(sub.select("node"), "node", "left_anti")
            .select("node", F.col("node").alias("component"))
        )
        .localCheckpoint(eager=False)
    )
    # scan #2 of the big map: pure broadcast-join projection — the
    # plan-shape test pins ZERO hash-partition exchanges here
    updated = old_labels.join(F.broadcast(relabel), "component", "left").select(
        "node", F.coalesce("_new", "component").alias("component")
    )
    return updated.unionByName(new_nodes)
