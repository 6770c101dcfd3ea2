"""Similarity search over an embedding column (training-data pipeline op).

Three tiers, all DataFrame-native (dot products via zip_with/aggregate
— no Python in the hot path):

* :func:`brute_force_topk` — exact cosine top-k. The correctness
  baseline; scales linearly (one broadcast of the query set, one scan).
* :func:`lsh_topk` — random-hyperplane LSH with L INDEPENDENT tables
  (OR-amplification, the same trick MinHash bands use): sign-bit sketch
  per table → per-table bucket equi-join → union of candidates → exact
  re-rank. One 8-bit table caught only ~43% of cosine≈0.95 pairs
  (VERDICT r01); 4×6-bit tables push recall to 1-(1-p^6)^4. Candidate
  set stays bucket-sized, not corpus-sized. Planes are fixed-seed
  numpy, shipped as literal arrays (deterministic across runs and
  partitionings) — which also makes the operator DuckDB-oracle-able
  (the generated SQL inlines the same plane literals).
* :func:`ivf_topk` — IVF coarse quantizer: centroids picked by
  deterministic hash order (TakeOrderedAndProject — per-partition
  top-k, never a global single-task sort), corpus assigned to nearest
  centroid via map-side-combinable min_by aggregation, query probes
  ``nprobe`` nearest lists, exact re-rank inside probed lists.

Recall/coverage of the approximate tiers vs the exact baseline is
measured in tests (no silent caps — the probe breadth is explicit).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from pie_spark.dedup.shingles import h64

SEED = 42


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a, b) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Exact cosine top-k per query. Queries are the broadcast side."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).cast("array<double>").alias("qv")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "q_id", "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "sim")
    )


def _planes(dim: int, nbits: int, table: int = 0) -> list[list[float]]:
    """Fixed-seed hyperplanes; each LSH table gets an independent set."""
    rng = np.random.default_rng([SEED, table])
    return rng.standard_normal((nbits, dim)).tolist()


def _bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    bits = [
        (_dot(vec_col, F.array(*[F.lit(float(x)) for x in p])) > 0).cast("int")
        for p in planes
    ]
    out = F.lit(0)
    for i, b in enumerate(bits):
        out = out + b * (1 << i)
    return out.cast("int")


def _with_table_buckets(
    df: DataFrame, vec: str, dim: int, nbits: int, n_tables: int
) -> DataFrame:
    """Explode each row into (tbl, bucket) per LSH table — the blocking
    keys for the OR-amplified candidate join."""
    return df.select(
        "*",
        F.posexplode(
            F.array(*[_bucket(F.col(vec), _planes(dim, nbits, t)) for t in range(n_tables)])
        ).alias("tbl", "bucket"),
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nbits: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """Hyperplane-LSH ANN: candidates = union of same-bucket hits over
    ``n_tables`` independent tables, then exact re-rank. Collision
    probability per table is (1-θ/π)^nbits; the union amplifies recall
    exactly like MinHash's OR-over-bands."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).cast("array<double>").alias("qv")
    )
    cb = _with_table_buckets(c, "v", dim, nbits, n_tables).select("vec_id", "tbl", "bucket")
    qb = _with_table_buckets(q, "qv", dim, nbits, n_tables).select("q_id", "tbl", "bucket")
    cands = cb.join(F.broadcast(qb), ["tbl", "bucket"]).select("q_id", "vec_id").distinct()
    scored = (
        cands.join(c, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "sim")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: deterministic coarse centroids = the ``n_centroids``
    vectors with the smallest portable hash of their id — selected via
    ``orderBy(hash).limit(k)``, which Spark executes as
    TakeOrderedAndProject (per-partition top-k + driver merge of k·P
    rows), NOT a global sort: the r01 un-partitioned
    ``row_number`` window pulled the whole corpus through one task.
    Hash order is a uniform pseudo-random sample, reproducible without
    a training pass. Assignment is a ``groupBy(vec_id).agg(min_by)`` —
    algebraic, so map-side partial aggregation collapses the
    (broadcast) centroid fan-out before any shuffle.

    Pass ``centroids`` (cent_id, cv) — e.g. from
    ``pie_spark.ann.kmeans.train_kmeans`` — to probe TRAINED coarse
    quantizers instead of the hash-order sample."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    if centroids is not None:
        cents = centroids.select("cent_id", "cv")
    else:
        cents = (
            c.withColumn("hk", h64(F.col("vec_id").cast("string")))
            .orderBy("hk", "vec_id")
            .limit(n_centroids)
            .select(F.col("vec_id").alias("cent_id"), F.col("v").alias("cv"))
        )
    # assign corpus rows to nearest centroid (broadcast: centroids tiny;
    # min_by over (-csim, cent_id) = max csim with asc-id tiebreak)
    ranked = F.struct((-cosine(F.col("v"), F.col("cv"))).alias("ncs"), F.col("cent_id").alias("cid"))
    assigned = (
        c.crossJoin(F.broadcast(cents))
        .groupBy("vec_id")
        .agg(
            F.min_by(F.struct(F.col("v").alias("v"), F.col("cent_id").alias("cent_id")), ranked).alias("best")
        )
        .select("vec_id", F.col("best.v").alias("v"), F.col("best.cent_id").alias("cent_id"))
    )
    q = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).cast("array<double>").alias("qv")
    )
    probe_w = Window.partitionBy("q_id").orderBy(F.desc("csim"), F.asc("cent_id"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("csim", cosine(F.col("qv"), F.col("cv")))
        .withColumn("prn", F.row_number().over(probe_w))
        .filter(F.col("prn") <= nprobe)
        .select("q_id", "qv", "cent_id")
    )
    scored = assigned.join(F.broadcast(probes), "cent_id").select(
        "q_id", "vec_id", F.round(cosine(F.col("v"), F.col("qv")), 6).alias("sim")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "vec_id", "sim")
    )
