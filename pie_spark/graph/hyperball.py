"""HyperBall: neighborhood-function / effective-diameter estimation
(G13; KG analytics at the scale where exact BFS-per-node is absurd).

"How big is the d-hop ball around every node" × "what is the effective
diameter of the co-mention graph" are THE shape questions for a
10^12-edge KG — and answering them exactly means V BFS runs. The
Boldi–Vigna HyperBall algorithm answers them APPROXIMATELY in
O(rounds) passes: every node carries an HLL sketch of its ball, and
one round of elementwise register max along edges turns t-ball
sketches into (t+1)-ball sketches (HLL union = register max, and
ball(v, t+1) = {v} ∪ ⋃_{u→v} ball(u, t)).

This implementation composes two existing assets:
  * the DETERMINISTIC sha256-based HLL register recipe
    (link/hll.py — bucket = hex prefix, rho = 53 − bitlen, portable
    to DuckDB and plain Python), so the whole run is bit-reproducible
    across partitionings and engines — no Spark-internal HLL++ state;
  * m = 16 registers (p = 4) carried as SIXTEEN LONG COLUMNS, not an
    array: per-register ``max`` is then a plain ALGEBRAIC aggregate —
    map-side combine collapses hub fan-in before the shuffle, the
    same armor every other iterative op here relies on.

The HASH-CHECKED output is exact-integer by construction: per (node,
round) the scaled register sum Σ 2^(53−M_j) (+ empties·2^53) and the
empty-register count — the two numbers the HLL estimate is a pure
function of. The float estimate itself (C / S, linear-counting branch
for small balls) lives in ``ball_estimate`` and is pytest-pinned for
ACCURACY against exact BFS ball sizes, keeping libm ``ln`` parity off
the driver-checked path (the link/hll.py precedent).

Scale shape (10^12-edge design point):
  * state = V × 16 longs; per round ONE edges⋈registers join (edges
    repartitioned by src once, checkpointed) + one 16-column max agg
    + one left join back for the self-union; localCheckpoint per
    round (§7.3).
  * rounds = the (effective) diameter — single digits on social/KG
    graphs; nothing row-sized ever reaches the driver.

Oracle strategy: ``hyperball_reference`` is an independent plain-
Python replay (dict registers, same sha256 recipe). tests pin Spark ≡
Python exactly; the folded driver row replays it over the DuckDB-read
co-mention edges as VALUES.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pie_spark.link.hll import bucket_rho, scale_constant

P = 4
M_REGS = 1 << P  # 16 registers -> rel. error ~1.04/sqrt(16) = 26%
_REG_COLS = [f"r{j}" for j in range(M_REGS)]


def _init_registers(nodes: DataFrame) -> DataFrame:
    """t = 0 sketch of {v}: one register set from the node's own hash
    (link/hll.py:bucket_rho at p = 4)."""
    bucket, rho = bucket_rho(F.col("node"), P)
    return nodes.select(
        "node",
        *[
            F.when(bucket == j, rho).otherwise(F.lit(0)).cast("long").alias(c)
            for j, c in enumerate(_REG_COLS)
        ],
    )


def _reg_sum_expr() -> F.Column:
    # exact scaled sum: empty register (M=0) contributes 2^53
    terms = [
        F.expr(f"shiftleft(CAST(1 AS BIGINT), 53 - {c})") for c in _REG_COLS
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def _empties_expr() -> F.Column:
    out = F.lit(0)
    for c in _REG_COLS:
        out = out + F.when(F.col(c) == 0, 1).otherwise(0)
    return out.cast("long")


def hyperball(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """(node, round, reg_sum, empties) for round ∈ 1..``rounds`` over
    the DIRECTED (src, dst) edge list (symmetrize upstream for the
    undirected KG): the exact-integer state of each node's ball sketch
    after each propagation round. ``ball_estimate`` turns a row into
    the cardinality estimate; round t's sketch covers ball(v, t)."""
    edges = (
        edges.select(
            F.col("src").cast("string").alias("src"),
            F.col("dst").cast("string").alias("dst"),
        )
        .distinct()
        .repartition("src")
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    regs = _init_registers(nodes).localCheckpoint(eager=True)
    snapshots = []
    for t in range(1, rounds + 1):
        nbr = (
            edges.join(regs, edges.src == regs.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(*[F.max(c).alias(f"n_{c}") for c in _REG_COLS])
        )
        regs = (
            regs.join(nbr, "node", "left")
            .select(
                "node",
                *[
                    F.greatest(F.col(c), F.coalesce(F.col(f"n_{c}"), F.lit(0)))
                    .cast("long")
                    .alias(c)
                    for c in _REG_COLS
                ],
            )
            .localCheckpoint(eager=True)
        )
        snapshots.append(
            regs.select(
                "node",
                F.lit(t).cast("long").alias("round"),
                _reg_sum_expr().alias("reg_sum"),
                _empties_expr().alias("empties"),
            )
        )
    out = snapshots[0]
    for s in snapshots[1:]:
        out = out.unionByName(s)
    return out


def ball_estimate(hb: DataFrame) -> DataFrame:
    """Adds the float ``est`` column to a ``hyperball`` output: the
    classic HLL estimate C/S with the linear-counting small-range
    branch — float enters exactly once (the link/hll.py discipline);
    accuracy is pytest-pinned against exact BFS balls, and the
    driver-checked row stays on the exact-integer columns."""
    c = repr(scale_constant(P))
    m = M_REGS
    return hb.withColumn(
        "est",
        F.expr(
            f"CASE WHEN ({c} / reg_sum) <= 2.5 * {m} AND empties > 0 "
            f"THEN {m} * ln(CAST({m} AS DOUBLE) / empties) "
            f"ELSE {c} / reg_sum END"
        ),
    )


# ------------------------------------------------------------- reference


def _init_reg_py(node: str) -> list[int]:
    hx = hashlib.sha256(node.encode("utf-8")).hexdigest()
    bucket = int(hx[0], 16)
    w = int(hx[1:14], 16)
    rho = 53 if w == 0 else 53 - w.bit_length()
    regs = [0] * M_REGS
    regs[bucket] = rho
    return regs


def hyperball_reference(
    edge_list: list[tuple[str, str]], rounds: int = 4
) -> list[tuple[str, int, int, int]]:
    """Independent plain-Python replay: [(node, round, reg_sum,
    empties)] — same sha256 register recipe, dict propagation."""
    inn: dict[str, set[str]] = defaultdict(set)
    nodes: set[str] = set()
    for s, d in set(edge_list):
        inn[d].add(s)
        nodes.add(s)
        nodes.add(d)
    regs = {n: _init_reg_py(n) for n in nodes}
    out: list[tuple[str, int, int, int]] = []
    for t in range(1, rounds + 1):
        regs = {
            n: [
                max([regs[n][j]] + [regs[u][j] for u in inn.get(n, ())])
                for j in range(M_REGS)
            ]
            for n in nodes
        }
        for n in sorted(nodes):
            s = sum(1 << (53 - mj) for mj in regs[n])
            e = sum(1 for mj in regs[n] if mj == 0)
            out.append((n, t, s, e))
    return out


def ball_estimate_py(reg_sum: int, empties: int) -> float:
    """Python twin of the ``ball_estimate`` formula (accuracy tests)."""
    c = scale_constant(P)
    est = c / reg_sum
    if est <= 2.5 * M_REGS and empties > 0:
        return M_REGS * math.log(M_REGS / empties)
    return est
