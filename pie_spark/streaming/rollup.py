"""Streaming hypertable rollup — the landing-zone twin of
events/rollup.py (A9), i.e. TimescaleDB's continuous aggregate:
the finest bucket level is maintained incrementally per micro-batch,
and coarser levels derive from it on demand.

Per micro-batch: aggregate THAT BATCH's events to finest-level bucket
partials (the raw rows never leave the batch) and land them in a
per-epoch overwrite dir — the drain.py idempotent exactly-once
recipe (a replayed epoch overwrites itself byte-identically).
``combined_rollup`` then merges all epochs' partials with ONE
bucket-level aggregation — legal because every aggregate is algebraic
(sum of counts, sum of sums, min/max of min/max compose), the same
property the batch cascade leans on. No keyed state store at all:
the "state" IS the published partials, so restarts are trivial and
the operator never holds more than a batch in memory.

Read cost: |epochs| × |touched buckets/epoch| rows — bucket-level,
never raw-level; periodic compaction of epoch partials into one dir
is the standing snapshot-table maintenance path (io/snapshots.py
``compact``). Coarser levels: feed ``combined_rollup`` to
``events/rollup._coarsen`` — pytest pins stream ≡ batch at EVERY
cascade level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pie_spark.schemas import EVENT_SCHEMA
from pie_spark.streaming.drain import drain, epoch_sink, read_epochs, read_stream


def stream_rollup(
    spark: SparkSession,
    events_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    width_us: int,
    keys: list[str] | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain newly-landed event parquet files into per-epoch finest-
    level bucket partials (epoch overwrite dirs, idempotent)."""
    from pie_spark.events.rollup import bucket_events

    keys = keys or []
    stream = read_stream(spark, EVENT_SCHEMA, events_dir, max_files_per_trigger)
    stream = stream.select(
        *keys,
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("value_centi"),
    )
    partials = epoch_sink(
        output_dir, lambda batch: bucket_events(batch, width_us, "ts_us", keys)
    )
    drain(stream, checkpoint_dir, partials)


def combined_rollup(
    spark: SparkSession, output_dir: str, keys: list[str] | None = None
) -> DataFrame:
    """Merge every epoch's partials into the current finest level —
    one bucket-level algebraic aggregation (counts/sums add, min/max
    compose). Equal to batch ``bucket_events`` over all drained events
    (pinned in tests), and a valid input to ``_coarsen`` for the
    coarser cascade levels."""
    keys = keys or []
    return read_epochs(spark, output_dir).groupBy(*keys, "bucket_us").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum("value_centi").cast("long").alias("value_centi"),
        F.min("min_ts_us").alias("min_ts_us"),
        F.max("max_ts_us").alias("max_ts_us"),
    )


def stream_hdr_sketch(
    spark: SparkSession,
    docs_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    p: int = 6,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming continuous QUANTILE aggregate: per micro-batch, the
    X26 log-histogram sketch of that batch's document lengths lands as
    an epoch-overwrite partial (the drain.py exactly-once recipe);
    because sketch merge is exact bucket-sum (eval/quantiles.py —
    pinned merge(halves) ≡ sketch(whole)), the union of epoch partials
    IS the corpus sketch, so stream ≡ batch with NO keyed state store
    and ≤ 4k rows of state per epoch regardless of batch size. The
    quantile read (`hdr_quantiles`) runs on `combined_hdr_sketch` at
    any time — a standing landing zone gets always-current length
    quantiles for the cost of a bucket-level merge."""
    from pie_spark.eval.quantiles import hdr_sketch

    docs = "doc_id long, text string, lang string, source string, n_chars long"
    stream = read_stream(spark, docs, docs_dir, max_files_per_trigger)
    stream = stream.select(F.length("text").cast("long").alias("v"))
    sketches = epoch_sink(output_dir, lambda batch: hdr_sketch(batch, "v", p=p))
    drain(stream, checkpoint_dir, sketches)


def combined_hdr_sketch(spark: SparkSession, output_dir: str) -> DataFrame:
    """Bucket-sum merge of every epoch's sketch partials — feed to
    ``pie_spark.eval.quantiles.hdr_quantiles``."""
    return read_epochs(spark, output_dir).groupBy("bucket", "lo", "hi").agg(
        F.sum("n").cast("long").alias("n")
    )
