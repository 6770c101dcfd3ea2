"""Custom stateful streaming operator (`applyInPandasWithState`):
running mention counts per normalized surface key across micro-batches.

This is the INCREMENTAL hot-key detector: the batch pipeline measures
top-k hot surfaces per run to drive join salting (A4/J6); on a
continuously-fed landing zone the counts must accumulate across
micro-batches instead — exactly the custom-state shape
`applyInPandasWithState` exists for (dropDuplicates can't do
arbitrary accumulators; native streaming agg can't emit
per-batch custom payloads like batches_seen).

State per key = (total_count, batches_seen): fixed-width, one row
per distinct surface key — state store partitioned by key hash, so hot
keys shard like any keyed state, and the per-group pandas function
receives Arrow batches (no per-row Python).

Sink: update-mode output lands via per-epoch overwrite directories
(same idempotent exactly-once recipe as ingest.py); the current
count for a key = the row from the LATEST epoch that mentions it —
latest_counts() resolves that with one max-epoch window.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

COUNT_SCHEMA = StructType(
    [
        StructField("norm_key", StringType()),
        StructField("mentions_total", LongType()),
        StructField("batches_seen", LongType()),
    ]
)
STATE_SCHEMA = StructType(
    [StructField("total", LongType()), StructField("batches", LongType())]
)


def _update_counts(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
    # runs ON EXECUTORS per key group, Arrow-batched; state is the
    # engine-managed per-key store (checkpointed, partitioned by key)
    n = sum(len(p) for p in pdfs)
    total, batches = state.get if state.exists else (0, 0)
    total += n
    batches += 1
    state.update((total, batches))
    yield pd.DataFrame(
        {
            "norm_key": [key[0]],
            "mentions_total": [total],
            "batches_seen": [batches],
        }
    )


def stream_surface_counts(
    spark: SparkSession,
    mentions_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 0,
) -> None:
    """Drain newly-landed mention files (the ingest stage's
    ``batch-*`` dirs), accumulating per-surface totals in keyed state;
    state persists in the streaming checkpoint across drains.
    ``max_files_per_trigger`` > 0 bounds each micro-batch (and, in
    tests/driver queries, forces MULTIPLE micro-batches so the
    cross-batch state accumulation is actually exercised)."""
    from pie_spark.extract.normalize import norm_key

    from pie_spark.schemas import MENTION_SCHEMA

    reader = spark.readStream.schema(MENTION_SCHEMA)
    if max_files_per_trigger > 0:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(os.path.join(mentions_dir, "batch-*"))
    keyed = stream.filter(F.col("mention_type") == "PERSON").select(
        norm_key(F.col("surface")).alias("norm_key")
    )

    counts = keyed.groupBy("norm_key").applyInPandasWithState(
        _update_counts,
        outputStructType=COUNT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(output_dir, f"epoch-{epoch_id:06d}")
        )

    q = (
        counts.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def hot_keys_from_counts(spark: SparkSession, output_dir: str, k: int) -> list[str]:
    """Top-k hottest norm_keys from the accumulated streaming counters —
    the incremental replacement for the batch A4 job. Feed the result to
    ``salted_join``/``salt_edges``: a continuously-fed landing zone
    learns its hot entities across drains instead of re-scanning the
    corpus every run. The collect is limit(k)-bounded
    (driver-safe by construction)."""
    rows = (
        latest_counts(spark, output_dir)
        .orderBy(F.desc("mentions_total"), "norm_key")
        .limit(k)
        .collect()
    )
    return [r["norm_key"] for r in rows]


def latest_counts(spark: SparkSession, output_dir: str) -> DataFrame:
    """(norm_key, mentions_total): each key's most recent running total
    across all committed epochs."""
    all_rows = spark.read.option("pathGlobFilter", "*.parquet").parquet(
        os.path.join(output_dir, "epoch-*")
    )
    files = all_rows.withColumn("__f", F.input_file_name())
    epoch = F.regexp_extract("__f", r"epoch-(\d+)", 1).cast("long")
    w = files.withColumn("__e", epoch)
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("norm_key").orderBy(F.desc("__e"))
    )
    return (
        w.withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .select("norm_key", "mentions_total")
    )
