"""Deterministic random-walk corpus over the knowledge graph (G10; KG
analytics → embedding training data).

DeepWalk/node2vec-style graph embeddings train word2vec on a corpus of
random walks; at the 10^12-edge design point the walk corpus itself is
a large distributed dataset, and its generation is a Spark job — the
walk corpus feeds directly into the existing skip-gram pair extractor
(text/colloc.py:skipgram_counts over ``path``), closing the loop from
materialized triples to embedding-training pairs entirely inside the
engine.

"Random" is the repo-wide deterministic recipe — NO RNG, no seed
state: the step choice at hop ``t`` of walk ``(start, walk_no)``
standing at node ``cur`` is

    idx = h64(start || '#' || walk_no || '#' || t || '#' || cur)
          mod outdeg(cur)

with h64 the portable md5-15-hex→BIGINT hash used by the whole dedup
family (dedup/shingles.py:h64 — bit-identical in DuckDB and trivially
replayable in plain Python). Neighbor ``idx`` is the rank of the
neighbor in ``ORDER BY dst`` within each src's adjacency list — a
deterministic total order on distinct neighbors. The result is
bit-identical across partitionings, engines, and rounds, yet
distributionally equivalent to a uniform neighbor choice (md5 is an
avalanche hash; successive hops decorrelate through the changing
``t``/``cur`` inputs).

All three walkers share ONE loop (``_walk``): seed the frontier
(every node × walk_no) once, then apply the walker's ``step(frontier,
t)`` for t = 1 .. walk_len − 1. The first-order uniform hop
(``_uniform_hop``) is the whole step of :func:`random_walks`, hop 1
and the hub-guarded walks of :func:`node2vec_walks`; only the
node2vec biased pick and the weighted interval pick are walker-own.

Scale shape (10^12-edge design point):
  * adjacency (src, dst, idx, outdeg) is built ONCE — the per-src
    neighbor ranking is a window sort partitioned by src (same cost
    class as the degree groupBy every other graph op pays),
    repartitioned by src and localCheckpointed; every hop probes the
    same layout.
  * the moving side per hop is the frontier — exactly V·walks_per_node
    rows regardless of edge count — carrying (start, walk_no, cur,
    prev, path). One equi-join per hop on cur (AQE skew-split covers
    hub nodes whose inflowing walk mass concentrates), no aggregation
    at all; walk_len is fixed and small (5–80 in the literature), so
    the job is walk_len narrow-ish rounds.
  * dangling nodes (outdeg 0 — possible on DIRECTED inputs) freeze:
    the left join leaves cur unchanged and the walk simply stops
    growing, matching the reference replay exactly. Undirected graphs
    (the co-mention KG) are symmetrized by the caller via
    ``symmetrize`` so every endpoint has outdeg ≥ 1.
  * localCheckpoint every CHECKPOINT_EVERY hops truncates the growing
    join lineage (§7.3 trap, same discipline as cc/kcore/pagerank).

Oracle strategy: ``random_walks_reference`` is an independent plain-
Python replay (dict adjacency over sorted neighbor lists, hashlib
md5). tests/test_walks.py pins Spark ≡ Python exactly on fuzzed
graphs plus partitioning invariance; the folded driver-style oracle
(queries.py:random_walks) replays it over the DuckDB-read co-mention
edge set inlined as VALUES (the BFS/k-core/PageRank precedent).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pie_spark.dedup.shingles import h64, h64_py

CHECKPOINT_EVERY = 4

Step = Callable[[DataFrame, int], DataFrame]


def symmetrize(edges: DataFrame) -> DataFrame:
    """Both directions of an undirected (src, dst) edge list, distinct —
    walk inputs for the co-mention KG."""
    fwd = edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    )
    return fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _distinct_pairs(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).distinct()


def _step_hash(t: int, *extra: F.Column) -> F.Column:
    """h64(start#walk_no#t#cur[#extra…]) — ``extra`` is ``prev`` for the
    node2vec second-order pick."""
    return h64(
        F.concat_ws(
            "#",
            F.col("start"),
            F.col("walk_no").cast("string"),
            F.lit(str(t)),
            F.col("cur"),
            *extra,
        )
    )


def _walk(
    edges: DataFrame,
    walk_len: int,
    walks_per_node: int,
    make_step: Callable[[], Step],
) -> DataFrame:
    """The one walk loop: seed (start, walk_no, cur, prev, path) for
    every endpoint of ``edges`` × walk_no, build the walker's step, then
    hop t = 1 .. walk_len − 1 with a lineage-truncating checkpoint every
    CHECKPOINT_EVERY hops. walk_len ≤ 1 yields bare start nodes.
    ``make_step`` runs after the count check, so a bad walks_per_node
    fails before the step's eager checkpoints run any job."""
    if walks_per_node < 1:
        raise ValueError(f"walks_per_node={walks_per_node} must be >= 1")
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    frontier = nodes.select(
        F.col("node").alias("start"),
        F.explode(F.sequence(F.lit(0), F.lit(walks_per_node - 1))).alias("walk_no"),
        F.col("node").alias("cur"),
        F.lit(None).cast("string").alias("prev"),
        F.col("node").alias("path"),
    )
    step = make_step()
    for t in range(1, walk_len):
        frontier = step(frontier, t)
        if t % CHECKPOINT_EVERY == 0:
            frontier = frontier.localCheckpoint(eager=True)
    return frontier.select("start", "walk_no", "path")


def _ranked_adjacency(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(deg, hop) over distinct (src, dst): deg is (deg_src, outdeg),
    hop is (a_src, a_dst, a_idx) with a_idx the neighbor's rank in
    ``ORDER BY dst`` — both built once and checkpointed."""
    adj = (
        edges.select(
            "src",
            "dst",
            (F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1)
            .cast("long")
            .alias("idx"),
            F.count("*").over(Window.partitionBy("src")).cast("long").alias("outdeg"),
        )
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    deg = (
        adj.select(F.col("src").alias("deg_src"), "outdeg").distinct()
        .localCheckpoint(eager=True)
    )
    hop = adj.select(
        F.col("src").alias("a_src"),
        F.col("dst").alias("a_dst"),
        F.col("idx").alias("a_idx"),
    )
    return deg, hop


def _uniform_hop(deg: DataFrame, hop: DataFrame) -> Step:
    """First-order step: neighbor pmod(h64(start#walk_no#t#cur),
    outdeg) in rank order; dangling walks keep ``cur`` and ``path``.
    Writes ``prev`` = the node stepped from."""

    def step(frontier: DataFrame, t: int) -> DataFrame:
        picked = frontier.join(deg, frontier.cur == F.col("deg_src"), "left").select(
            "start",
            "walk_no",
            "cur",
            "path",
            F.when(
                F.col("outdeg").isNotNull(), F.pmod(_step_hash(t), F.col("outdeg"))
            ).alias("pick"),
        )
        return picked.join(
            hop, (picked.cur == F.col("a_src")) & (picked.pick == F.col("a_idx")), "left"
        ).select(
            "start",
            "walk_no",
            F.coalesce(F.col("a_dst"), F.col("cur")).alias("cur"),
            F.col("cur").alias("prev"),
            F.when(
                F.col("a_dst").isNotNull(), F.concat_ws(" ", F.col("path"), F.col("a_dst"))
            )
            .otherwise(F.col("path"))
            .alias("path"),
        )

    return step


def random_walks(
    edges: DataFrame,
    walk_len: int = 5,
    walks_per_node: int = 2,
) -> DataFrame:
    """(start, walk_no, path): ``walks_per_node`` deterministic walks of
    ≤ ``walk_len`` nodes from every node of the DIRECTED (src, dst)
    edge list; ``path`` is the space-joined node sequence (the text
    contract of skipgram_counts, so walk corpora feed the existing
    pair extractor unchanged). Walks freeze at dangling nodes."""
    edges = _distinct_pairs(edges)
    return _walk(
        edges, walk_len, walks_per_node, lambda: _uniform_hop(*_ranked_adjacency(edges))
    )


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 5,
    walks_per_node: int = 1,
    w_return: int = 1,
    w_shared: int = 4,
    w_out: int = 2,
    max_bias_degree: int = 1024,
) -> DataFrame:
    """(start, walk_no, path): second-order (node2vec-style) biased
    walks. At hop t ≥ 2 each neighbor x of ``cur`` is weighted by its
    relation to the PREVIOUS node: ``w_return`` if x == prev (the 1/p
    return bias), ``w_shared`` if x ∈ N(prev) (distance-1, BFS-ish),
    ``w_out`` otherwise (distance-2, DFS-ish, the 1/q bias) — INTEGER
    weights, caller-chosen, so the pick is exact arithmetic: draw
    h = h64(start#walk_no#t#cur#prev) mod Σweights and walk the
    (return, shared, out) class ranges in that fixed order, taking the
    ordinal-th neighbor of the chosen class in adjacency rank order.
    Hop 1 (no prev yet) is the first-order uniform pick.

    The second-order fan-out is deg(cur) candidate rows per walk per
    hop — at a 100k-degree celebrity hub that is the quadratic trap
    every production node2vec hits (precomputed alias tables there
    cost E·avg_deg memory). Nodes with outdeg > ``max_bias_degree``
    degrade to the FIRST-ORDER uniform pick instead — part of the
    operator's semantics, replayed identically by the reference (the
    hub-middle-guard precedent from graph/similarity.py): bias toward
    "neighbors shared with prev" is statistically meaningless at a
    node adjacent to everything anyway.

    Scale shape per hop: split frontier on the broadcast-joined degree
    (guarded walks take the cheap first-order path); biased walks fan
    out via ONE adjacency join, flag shared neighbors via ONE left
    join against the edge set on (prev, x), collapse to per-class
    counts with an ALGEBRAIC agg (map-side combine eats the fan-out
    before the shuffle), and elect the ordinal-th class member with
    one window rank — the honest second-order cost, bounded by
    frontier·max_bias_degree rows.
    """
    edges = _distinct_pairs(edges)

    def make_step() -> Step:
        deg, hop = _ranked_adjacency(edges)
        uniform = _uniform_hop(deg, hop)
        eset = edges.select(F.col("src").alias("e_src"), F.col("dst").alias("e_dst"))
        cols = ["start", "walk_no", "cur", "prev", "path"]

        def step(frontier: DataFrame, t: int) -> DataFrame:
            if t == 1:
                return uniform(frontier, t)
            fr = frontier.join(deg, frontier.cur == F.col("deg_src"), "left")
            guarded = F.col("outdeg").isNull() | (F.col("outdeg") > max_bias_degree)
            plain = fr.filter(guarded).select(*cols)
            biased = fr.filter(~guarded).select(*cols)
            cand = (
                biased.join(hop, biased.cur == F.col("a_src"))
                .join(
                    eset,
                    (F.col("prev") == F.col("e_src")) & (F.col("a_dst") == F.col("e_dst")),
                    "left",
                )
                .select(
                    *cols,
                    F.col("a_dst").alias("x"),
                    F.col("a_idx").alias("x_idx"),
                    # class 0 = return, 1 = shared-with-prev, 2 = out
                    F.when(F.col("a_dst") == F.col("prev"), F.lit(0))
                    .when(F.col("e_src").isNotNull(), F.lit(1))
                    .otherwise(F.lit(2))
                    .alias("cls"),
                )
            )
            counts = cand.groupBy("start", "walk_no", "cur").agg(
                *[
                    F.sum(F.when(F.col("cls") == c, 1).otherwise(0)).cast("long").alias(f"n{c}")
                    for c in range(3)
                ]
            )
            # class ranges on [0, Σweights): return [0, lo1), shared
            # [lo1, lo2), out [lo2, Σ)
            lo1 = F.lit(w_return) * F.col("n0")
            lo2 = lo1 + F.lit(w_shared) * F.col("n1")
            # prev is functionally determined by (start, walk_no, cur) at
            # this hop — it rides back in via the distinct-projection join
            chosen = counts.join(
                cand.select("start", "walk_no", "cur", "prev").distinct(),
                ["start", "walk_no", "cur"],
            ).select(
                F.col("start").alias("s2"),
                F.col("walk_no").alias("w2"),
                F.col("cur").alias("c2"),
                "n0",
                "n1",
                F.pmod(
                    _step_hash(t, F.col("prev")), lo2 + F.lit(w_out) * F.col("n2")
                ).alias("h"),
            ).select(
                "s2",
                "w2",
                "c2",
                F.when(F.col("h") < lo1, F.lit(0))
                .when(F.col("h") < lo2, F.lit(1))
                .otherwise(F.lit(2))
                .alias("pick_cls"),
                F.when(F.col("h") < lo1, F.expr(f"h DIV {w_return}"))
                .when(F.col("h") < lo2, F.expr(f"(h - {w_return} * n0) DIV {w_shared}"))
                .otherwise(F.expr(f"(h - {w_return} * n0 - {w_shared} * n1) DIV {w_out}"))
                .cast("long")
                .alias("ordinal"),
            )
            rank = Window.partitionBy("start", "walk_no", "cur", "cls").orderBy("x_idx")
            stepped = (
                cand.withColumn("rn", (F.row_number().over(rank) - 1).cast("long"))
                .join(
                    chosen,
                    (F.col("start") == F.col("s2"))
                    & (F.col("walk_no") == F.col("w2"))
                    & (F.col("cur") == F.col("c2"))
                    & (F.col("cls") == F.col("pick_cls"))
                    & (F.col("rn") == F.col("ordinal")),
                )
                .select(
                    "start",
                    "walk_no",
                    F.col("x").alias("cur"),
                    F.col("cur").alias("prev"),
                    F.concat_ws(" ", F.col("path"), F.col("x")).alias("path"),
                )
            )
            return uniform(plain, t).unionByName(stepped)

        return step

    return _walk(edges, walk_len, walks_per_node, make_step)


def weighted_walks(
    edges: DataFrame,
    walk_len: int = 5,
    walks_per_node: int = 2,
) -> DataFrame:
    """(start, walk_no, path): first-order walks where the step choice
    is proportional to EDGE WEIGHT — on a pair_docs-weighted co-mention
    graph the walk drifts toward strongly-associated entities, the
    corpus a relatedness-embedding trainer actually wants. ``edges``
    is directed (src, dst, w) with positive integer weights.

    The draw is the cumulative-interval recipe shared with
    weighted_negatives, lifted to per-source distributions with ONE
    trick: every source's intervals are OFFSET by a per-source global
    base (the running sum of source totals in src rank order), making
    ALL E intervals disjoint on a single global axis [0, ΣW). A hop is
    then: pick_g = base(cur) + h64(start#walk_no#t#cur) mod total(cur),
    resolved through the J9 bucketized range join (bucket = max edge
    weight → ≤ 2 buckets per interval) against the interval table
    built ONCE and checkpointed — per hop only the frontier moves, the
    same scale shape as the uniform walk. Zipf-hot buckets (heavy
    edges) are AQE skew-join territory.

    Dangling nodes freeze exactly as in :func:`random_walks`.
    ``weighted_walks_reference`` is the independent bisect replay;
    parity tests pin them bit-equal."""
    from pie_spark.events.rangejoin import range_join
    from pie_spark.ranks import prefix_sums

    e = (
        edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
            F.col("w").cast("long").alias("w"),
        )
        .filter(F.col("w") > 0)
        .groupBy("src", "dst")
        .agg(F.max("w").alias("w"))
    )

    def make_step() -> Step:
        # per-src cumulative intervals in dst rank order
        ws = Window.partitionBy("src").orderBy("dst")
        local = e.select(
            "src",
            "dst",
            (F.sum("w").over(ws) - F.col("w")).cast("long").alias("c_lo"),
            (F.sum("w").over(ws) - 1).cast("long").alias("c_hi"),
        )
        totals = local.groupBy("src").agg(
            (F.max("c_hi") + 1).cast("long").alias("total_w")
        )
        # per-src global base: running sum of totals in src rank order —
        # distributed prefix sums (pie_spark/ranks.py), no V-row
        # single-partition window
        base = (
            prefix_sums(totals, "src", "total_w")
            .select(
                F.col("src").alias("b_src"),
                "total_w",
                F.col("cum_lo").alias("base"),
            )
            .localCheckpoint(eager=True)
        )
        ivals = (
            local.join(base, local.src == F.col("b_src"))
            .select(
                F.col("dst").alias("i_dst"),
                (F.col("base") + F.col("c_lo")).alias("g_lo"),
                (F.col("base") + F.col("c_hi")).alias("g_hi"),
            )
            .localCheckpoint(eager=True)
        )
        max_w = int(e.agg(F.max("w").alias("m")).collect()[0]["m"] or 1)  # one long

        def step(frontier: DataFrame, t: int) -> DataFrame:
            picked = frontier.join(base, frontier.cur == F.col("b_src"), "left").select(
                "start",
                "walk_no",
                "cur",
                "path",
                F.when(
                    F.col("total_w").isNotNull(),
                    F.col("base") + F.pmod(_step_hash(t), F.col("total_w")),
                ).alias("pick_g"),
            )
            frozen = picked.filter(F.col("pick_g").isNull()).select(
                "start", "walk_no", "cur", "path"
            )
            stepped = range_join(
                picked.filter(F.col("pick_g").isNotNull()),
                ivals, "pick_g", "g_lo", "g_hi", bucket_us=max_w,
            ).select(
                "start",
                "walk_no",
                F.col("i_dst").alias("cur"),
                F.concat_ws(" ", F.col("path"), F.col("i_dst")).alias("path"),
            )
            return frozen.unionByName(stepped)

        return step

    return _walk(e, walk_len, walks_per_node, make_step)


def weighted_walks_reference(
    edges: list[tuple[str, str, int]],
    walk_len: int = 5,
    walks_per_node: int = 2,
) -> list[tuple[str, int, str]]:
    """Plain-Python replay of ``weighted_walks`` (per-src bisect over
    cumulative weights — independent of the range-join path)."""
    from bisect import bisect_right

    best: dict[tuple[str, str], int] = {}
    nodes: set[str] = set()
    for s, d, w in edges:
        if w <= 0:
            continue
        nodes.add(s)
        nodes.add(d)
        if (s, d) not in best or w > best[(s, d)]:
            best[(s, d)] = w
    nbrs: dict[str, list[tuple[str, int]]] = defaultdict(list)
    for (s, d), w in sorted(best.items()):
        nbrs[s].append((d, w))
    cum: dict[str, tuple[list[str], list[int], int]] = {}
    for s, lst in nbrs.items():
        ds, his, acc = [], [], 0
        for d, w in lst:  # already dst-sorted
            acc += w
            ds.append(d)
            his.append(acc - 1)
        cum[s] = (ds, his, acc)
    out: list[tuple[str, int, str]] = []
    for start in sorted(nodes):
        for walk_no in range(walks_per_node):
            cur, path = start, [start]
            for t in range(1, walk_len):
                if cur not in cum:
                    continue
                ds, his, total = cum[cur]
                h = h64_py(f"{start}#{walk_no}#{t}#{cur}") % total
                cur = ds[bisect_right(his, h - 1)]
                path.append(cur)
            out.append((start, walk_no, " ".join(path)))
    return out


def node2vec_walks_reference(
    edges: list[tuple[str, str]],
    walk_len: int = 5,
    walks_per_node: int = 1,
    w_return: int = 1,
    w_shared: int = 4,
    w_out: int = 2,
    max_bias_degree: int = 1024,
) -> list[tuple[str, int, str]]:
    """Plain-Python replay of ``node2vec_walks`` — independent
    implementation; parity tests pin the two bit-equal."""
    adj: dict[str, set[str]] = defaultdict(set)
    nodes: set[str] = set()
    for s, d in {(a, b) for a, b in edges}:
        adj[s].add(d)
        nodes.add(s)
        nodes.add(d)
    nbrs = {s: sorted(ds) for s, ds in adj.items()}
    out: list[tuple[str, int, str]] = []
    for start in sorted(nodes):
        for walk_no in range(walks_per_node):
            cur, prev, path = start, None, [start]
            for t in range(1, walk_len):
                ns = nbrs.get(cur)
                if not ns:
                    continue
                if prev is None or len(ns) > max_bias_degree:
                    pick = h64_py(f"{start}#{walk_no}#{t}#{cur}") % len(ns)
                    nxt = ns[pick]
                else:
                    classed = [
                        0 if x == prev else (1 if x in adj.get(prev, ())
                                             else 2)
                        for x in ns
                    ]
                    weights = {0: w_return, 1: w_shared, 2: w_out}
                    total = sum(weights[c] for c in classed)
                    h = h64_py(f"{start}#{walk_no}#{t}#{cur}#{prev}") % total
                    n = [classed.count(0), classed.count(1), classed.count(2)]
                    if h < w_return * n[0]:
                        cls, ordinal = 0, h // w_return
                    elif h < w_return * n[0] + w_shared * n[1]:
                        cls, ordinal = 1, (h - w_return * n[0]) // w_shared
                    else:
                        cls, ordinal = (
                            2,
                            (h - w_return * n[0] - w_shared * n[1]) // w_out,
                        )
                    nxt = [x for x, c in zip(ns, classed) if c == cls][ordinal]
                prev, cur = cur, nxt
                path.append(cur)
            out.append((start, walk_no, " ".join(path)))
    return out


def random_walks_reference(
    edges: list[tuple[str, str]],
    walk_len: int = 5,
    walks_per_node: int = 2,
) -> list[tuple[str, int, str]]:
    """Plain-Python replay of ``random_walks`` over a directed edge
    list — dict adjacency with sorted neighbor lists, hashlib md5.
    Independent of the Spark implementation; the parity tests pin the
    two bit-equal."""
    adj: dict[str, set[str]] = defaultdict(set)
    nodes: set[str] = set()
    for s, d in edges:
        adj[s].add(d)
        nodes.add(s)
        nodes.add(d)
    nbrs = {s: sorted(ds) for s, ds in adj.items()}
    out: list[tuple[str, int, str]] = []
    for start in sorted(nodes):
        for walk_no in range(walks_per_node):
            cur, path = start, [start]
            for t in range(1, walk_len):
                ns = nbrs.get(cur)
                if not ns:
                    continue
                pick = h64_py(f"{start}#{walk_no}#{t}#{cur}") % len(ns)
                cur = ns[pick]
                path.append(cur)
            out.append((start, walk_no, " ".join(path)))
    return out
