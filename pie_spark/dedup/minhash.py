"""MinHash + LSH near-dedup (training-data pipeline op).

shingle → K permutation minhashes → B bands of R rows → band-bucket
join → candidate pairs → signature-estimated Jaccard filter.

Scale shape (the whole point of MinHash at 100 TB):
  * signatures are computed in ONE narrow pass (array expressions over
    the shingle array — no explode, no shuffle, no Python);
  * the only shuffle is the band-bucket self-join, whose fan-out is
    controlled by B and bucket collision rates, never by O(n²) pairs;
  * hot buckets (boilerplate documents) are bounded by ``max_bucket``:
    buckets larger than that are dropped *and counted*, the standard
    guard against the quadratic blowup a boilerplate cluster causes —
    no silent cap: use ``bucket_stats`` to report what was dropped.

Hashes are md5-based (portable to DuckDB) so the operator is
oracle-checkable end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pie_spark.dedup.shingles import doc_shingles, h64

K_PERMS = 16
BANDS = 4  # → rows per band R = K_PERMS // BANDS = 4


def signatures(
    docs: DataFrame, text_col: str = "text", n: int = 3, k: int = K_PERMS
) -> DataFrame:
    """(doc_id, sig: array<long>[k]).

    Shape: explode shingles → k hash COLUMNS (plain row-wise
    projections, fully codegen'd) → ``groupBy(doc_id).agg(min…)`` →
    assemble array. The groupBy is algebraic-min, so map-side combine
    keeps the shuffle tiny regardless of document length. (The
    tempting all-array formulation — min over a transform lambda per
    perm — recomputes the shingle expression inside every lambda:
    measured 40s vs 2s at sf0.01.)
    """
    sh = doc_shingles(docs, text_col, n).withColumnRenamed("shingle", "s")
    hashed = sh.select(
        "doc_id",
        *[
            h64(F.concat(F.lit(f"p{p}:"), F.col("s"))).alias(f"h{p}")
            for p in range(k)
        ],
    )
    mins = hashed.groupBy("doc_id").agg(
        *[F.min(f"h{p}").alias(f"h{p}") for p in range(k)]
    )
    return mins.select(
        "doc_id", F.array(*[F.col(f"h{p}") for p in range(k)]).alias("sig")
    )


def band_buckets(sigs: DataFrame, bands: int = BANDS) -> DataFrame:
    """(doc_id, band, bucket) — bucket = md5 of the band's slice."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.slice("sig", b * (K_PERMS // bands) + 1, K_PERMS // bands)
                            .cast("array<string>"),
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    )


def candidate_pairs(
    sigs: DataFrame, bands: int = BANDS, max_bucket: int = 50
) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs from shared band buckets;
    buckets over ``max_bucket`` docs dropped (boilerplate guard).

    Never materializes a bucket's member list: sizes are aggregated
    first (partial-agg safe even for a million-doc boilerplate bucket),
    then members of surviving buckets self-join per bucket — the only
    place pair fan-out can occur, and it is bounded by max_bucket².

    The bucket table is checkpointed before the self-join: without it,
    Catalyst inlines the full signature expression tree (K md5-hash
    array transforms) into BOTH join sides and the size aggregate,
    recomputing it three times — measured 75s → 3s at sf0.01.
    """
    # r07: LAZY checkpoint — the band table materializes inside the
    # first consuming job (sizes agg / probe join) instead of costing a
    # separate eager job; the LogicalRDD barrier against Catalyst
    # re-inlining the signature tree stands either way. ``sigs`` stays
    # EAGER in near_duplicates: its three consumers sit in potentially
    # concurrent stages, and a lazy checkpoint could double-compute the
    # expensive shingle×K-md5 pass at scale.
    bk = band_buckets(sigs, bands).localCheckpoint(eager=False)
    sizes = (
        bk.groupBy("band", "bucket")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n").between(2, max_bucket))
        .select("band", "bucket")
    )
    ok = bk.join(sizes, ["band", "bucket"])
    a = ok.select("band", "bucket", F.col("doc_id").alias("doc_a"))
    b = ok.select("band", "bucket", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def bucket_stats(sigs: DataFrame, bands: int = BANDS, max_bucket: int = 50) -> DataFrame:
    """Transparency for the boilerplate guard: how many buckets/docs
    were dropped for exceeding max_bucket."""
    bk = band_buckets(sigs, bands)
    sized = bk.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    return sized.agg(
        F.count("*").alias("n_buckets"),
        F.sum((F.col("n") > max_bucket).cast("int")).alias("n_dropped_buckets"),
        F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0)).alias(
            "n_docs_in_dropped"
        ),
    )


def near_duplicates(
    docs: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.7,
    max_bucket: int = 50,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard ≥ threshold) — signature-estimated
    Jaccard = fraction of agreeing minhash slots."""
    sigs = signatures(docs, text_col, n).localCheckpoint(eager=True)
    pairs = candidate_pairs(sigs, max_bucket=max_bucket)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(K_PERMS)
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )
