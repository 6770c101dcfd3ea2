"""Streaming exact-dedup over an append-only landing zone: emit each
document whose normalized content hash has never been seen before;
drop late-arriving duplicates across micro-batches via the state store.

Semantics = the batch D1 operator (same Unicode-normalized content key,
pie_spark/dedup/exact.py), applied incrementally: the first arrival of
a content key wins, all later arrivals are suppressed — so draining a
landing zone through this stream and batch-deduping the same files
yield the SAME surviving key set (asserted by tests/test_streaming.py).

State-size reality at 10^12 docs: corpus-wide streaming dedup keeps one
32-byte md5 per distinct content in the state store — too large for a
single store at full corpus scale. The production shapes are (a) this
stream with ``within_watermark`` bounding state to a time window
(near-dup arrivals cluster in time: re-crawls, mirrored posts), or
(b) the batch dedup family over the accumulated table. Both are
provided; unbounded mode is the exact semantic for modest landing
zones (billions, not trillions).

``dropDuplicates``/``dropDuplicatesWithinWatermark`` ride Spark's
streaming state store (RocksDB/HDFS-backed on a cluster) — partitioned
by key hash, so hot content keys shard across executors like any
keyed state.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pie_spark.dedup.exact import _content_key
from pie_spark.schemas import DOC_SCHEMA
from pie_spark.streaming.drain import drain, read_stream

# landing-zone schema for the bounded-state mode: the plain DOC_SCHEMA
# plus the producer's ingestion timestamp (re-crawl landing zones carry
# one; the unbounded mode neither requires nor reads it)
DOC_EVENT_SCHEMA = T.StructType(
    [*DOC_SCHEMA.fields, T.StructField("event_time", T.TimestampType(), False)]
)


def _span_text() -> Column:
    """Column ``text``: a document's span texts joined by spaces (null → "")."""
    return F.concat_ws(
        " ", F.transform("spans", lambda sp: F.coalesce(sp["text"], F.lit("")))
    ).alias("text")


def streaming_dedup_docs(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    within_watermark: str | None = None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Drain available files, appending only first-seen-content docs to
    ``output_dir``. ``within_watermark`` (e.g. ``"1 hour"``) bounds
    state: duplicates are only suppressed within the watermark window,
    and the input files must carry an ``event_time`` timestamp column
    (read via :data:`DOC_EVENT_SCHEMA`; the output keeps it)."""
    schema = DOC_SCHEMA if within_watermark is None else DOC_EVENT_SCHEMA
    stream = read_stream(spark, schema, input_dir, max_files_per_trigger)
    flat = stream.select(
        "doc_id",
        *(["event_time"] if within_watermark is not None else []),
        _span_text(),
    ).withColumn("content_md5", _content_key("text"))

    if within_watermark is not None:
        deduped = flat.withWatermark(
            "event_time", within_watermark
        ).dropDuplicatesWithinWatermark(["content_md5"])
    else:
        deduped = flat.dropDuplicates(["content_md5"])
    drain(deduped, checkpoint_dir, file_sink_dir=output_dir)


def stream_neardup_index(
    spark,
    input_dir: str,
    work_dir: str,
    checkpoint_dir: str,
    table,
    threshold: float = 0.5,
    max_bucket: int = 50,
    max_files_per_trigger: int | None = None,
) -> int:
    """Streaming NEAR-dup dedup against a standing MinHash index: each
    micro-batch of landed documents is deduped against everything the
    landing zone has accumulated (dedup/incremental.py), and the epoch
    publishes pairs + its index rows (sigs, band-buckets) as ONE atomic
    snapshot on ``table`` (``add_files_many`` — a reader can never see
    the index grown without its pairs). Returns micro-batches run.

    Exactly-once is stricter here than for stateless extraction: a
    retried epoch must not even RECOMPUTE, because its sigs are already
    in the index and delta-vs-index assumes disjointness — so the sink
    checks ``table.applied("pairs", epoch-key)`` first and skips
    committed epochs entirely (the foreachBatch idempotent-write
    recipe, keyed at the whole-epoch level).

    Accumulated semantics (pinned by tests/test_streaming.py): draining
    a corpus through any epoch partitioning yields ⋃ pairs ≡ the batch
    ``near_duplicates`` over the full corpus — a pair lands exactly
    once, in the epoch its LATER doc arrives — provided no band bucket
    outgrows ``max_bucket`` mid-stream (the append-only guard semantics
    documented in dedup/incremental.py).

    Flow-shape note: the standing index is read snapshot-pinned
    (``table.scan``), so concurrent readers and the in-flight epoch
    never race; the first epoch bootstraps typed empty index frames
    from the batch itself (``limit(0)``)."""
    from pie_spark.dedup.incremental import build_index, delta_near_duplicates

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        key = f"epoch-{epoch_id}"
        if table.applied("pairs", key):
            return  # committed epoch replayed after a crash: full skip
        docs = batch_df.select("doc_id", _span_text())
        if table.current_snapshot() is None:
            old_sigs, old_bk = build_index(docs.limit(0))
        else:
            old_sigs = table.scan(spark, "sigs")
            old_bk = table.scan(spark, "buckets")
        res = delta_near_duplicates(
            old_sigs, old_bk, docs, threshold=threshold, max_bucket=max_bucket
        )
        out = {}
        for name, df in (
            ("pairs", res.pairs),
            ("sigs", res.new_sigs),
            ("buckets", res.new_buckets),
        ):
            path = os.path.join(work_dir, name, f"batch-{epoch_id:06d}")
            df.write.mode("overwrite").parquet(path)  # idempotent on retry
            out[name] = path
        table.add_files_many(out, meta={"epoch": epoch_id}, key=key)

    stream = read_stream(spark, DOC_SCHEMA, input_dir, max_files_per_trigger)
    return drain(stream, checkpoint_dir, process)
