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

Sink: drain.py's per-epoch overwrite dirs; a key's current count is
its row from the LATEST epoch that mentions it (latest_counts).
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

from pie_spark.streaming.drain import drain, epoch_sink, latest_per_key, read_stream

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
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain newly-landed mention files (the ingest stage's
    ``batch-*`` dirs), accumulating per-surface totals in keyed state;
    state persists in the streaming checkpoint across drains.
    ``max_files_per_trigger`` bounds each micro-batch (and, in
    tests/driver queries, forces MULTIPLE micro-batches so the
    cross-batch state accumulation is actually exercised)."""
    from pie_spark.extract.normalize import norm_key

    from pie_spark.schemas import MENTION_SCHEMA

    mentions = os.path.join(mentions_dir, "batch-*")
    stream = read_stream(spark, MENTION_SCHEMA, mentions, max_files_per_trigger)
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
    drain(counts, checkpoint_dir, epoch_sink(output_dir))


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
    return latest_per_key(spark, output_dir, ["norm_key"]).select(
        "norm_key", "mentions_total"
    )
