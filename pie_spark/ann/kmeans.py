"""Distributed k-means (Lloyd) for IVF coarse-quantizer training
(N5 in SURVEY.md §2.12; upgrades N3's hash-order centroid pick to
trained centroids when a training pass is affordable).

Per iteration: ONE assignment pass (corpus × broadcast centroids →
``min_by`` aggregation — algebraic, map-side combinable, no window; it
plans as a SortAggregate, since its struct buffer carries the array
vector and so is not hash-aggregatable) and ONE update pass (posexplode → (cluster, dim) partial
agg of integer micro-units — the cluster_centroids discipline:
``avg(double)`` sums in partition order and breaks determinism, so
components are summed as exact longs and floor-divided once). The
centroid table is k×dim (tiny) and rides broadcast joins; the corpus
is scanned once per iteration and NOTHING corpus-sized is collected.

Determinism: seeds are the k corpus vectors with the smallest portable
md5 hash of their id (same recipe as ivf_topk — reproducible without
RNG); assignment ties break on (−cos, cent_id); updates are exact
integer arithmetic. The whole trajectory is therefore bit-identical
across partitionings AND across re-implementations — the unit test
replays the identical algorithm in plain Python and asserts EXACT
equality of every centroid at every iteration.

Empty clusters keep their previous centroid (standard Lloyd fallback).
``localCheckpoint`` per iteration truncates the growing plan lineage,
same as the CC loop (SURVEY.md §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pie_spark.ann.search import cosine
from pie_spark.dedup.shingles import h64

MICRO = 1_000_000


def _hash_seed_centroids(c: DataFrame, k: int) -> DataFrame:
    return (
        c.withColumn("hk", h64(F.col("vec_id").cast("string")))
        .orderBy("hk", "vec_id")  # TakeOrderedAndProject, not a global sort
        .limit(k)
        .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
    )


def assign(c: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, v, cent_id): nearest centroid by cosine, total-order
    tiebreak — a min_by aggregation over the broadcast fan-out (a
    partial + final SortAggregate around one exchange: the buffer
    holds the array vector, which rules out HashAggregate)."""
    ranked = F.struct(
        (-cosine(F.col("v"), F.col("cv"))).alias("ncs"),
        F.col("cent_id").alias("cid"),
    )
    return (
        c.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.min_by(
                F.struct(F.col("v").alias("v"), F.col("cent_id").alias("cent_id")),
                ranked,
            ).alias("best")
        )
        .select("vec_id", F.col("best.v").alias("v"), F.col("best.cent_id").alias("cent_id"))
    )


def _update(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """New centroid per cluster = integer-micro mean of members; empty
    clusters keep the previous centroid."""
    e = assigned.select("cent_id", F.posexplode("v").alias("pos", "x"))
    per_dim = e.groupBy("cent_id", "pos").agg(
        F.sum(F.round(F.col("x") * MICRO).cast("long")).alias("s"),
        F.count("*").alias("n"),
    )
    fresh = per_dim.groupBy("cent_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
            lambda st: (F.floor(st["s"] / st["n"]) / F.lit(float(MICRO))).cast("double"),
        ).alias("cv")
    )
    keep = cents.join(fresh.select("cent_id"), "cent_id", "left_anti")
    return fresh.unionByName(keep)


def train_kmeans(
    embeddings: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cent_id, cv: array<double>) after ``iters`` Lloyd iterations
    from hash-order seeds. Feed to :func:`pie_spark.ann.search.ivf_topk`
    via its ``centroids`` parameter."""
    c = embeddings.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).localCheckpoint(eager=True)
    cents = _hash_seed_centroids(c, k).localCheckpoint(eager=True)
    for _ in range(iters):
        cents = _update(assign(c, cents), cents).localCheckpoint(eager=True)
    return cents
