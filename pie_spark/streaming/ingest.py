"""Structured Streaming ingestion: incremental mention extraction over
an append-only document directory (SURVEY.md §2.10 — the spec itself
has no streaming operators, so this is the engine's own incremental
path; BASELINE.json's batch pipeline stays the system of record).

Design — ``foreachBatch``, not a direct streaming transformation: the
extraction stage ends in overlap-merge windows (row_number per doc_id),
and window functions are unsupported on streaming DataFrames. Running
the UNCHANGED batch ``extract_stage`` inside ``foreachBatch`` keeps
stream/batch parity exact by construction (same code object), which is
what lets the resume test assert stream output ≡ batch output.

Exactly-once: the drain.py protocol — the offset log skips committed
files, and each micro-batch is written to its OWN directory
``batch-<epoch_id>`` with ``mode("overwrite")``, so a retried epoch
overwrites the same directory instead of appending duplicates.
Extraction is stateless per document, so no watermark is needed; a
restarted stream processes exactly the not-yet-committed files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pie_spark.config import PipelineConfig
from pie_spark.schemas import DOC_SCHEMA
from pie_spark.streaming.drain import drain, read_stream


def stream_extract_mentions(
    spark: SparkSession,
    cfg: PipelineConfig,
    input_dir: str,
    dict_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    snapshot_table=None,
    maintain_every: int = 0,
    maintain_max_files: int = 64,
) -> int:
    """Drain all currently-available files (Trigger.AvailableNow) through
    the batch extraction stage; returns the number of micro-batches run.

    Call again after new files land — the checkpoint's offset log skips
    everything already committed.

    With ``snapshot_table`` (a ``SnapshotTable``), each micro-batch dir
    is also published to the table as a zero-copy append
    (``add_files``, idempotent by ``epoch-<id>`` key so a crash-retried
    epoch never double-registers even after compaction folded its dir)
    — the table becomes the queryable system of record for the landing
    zone, with time travel per micro-batch. ``maintain_every`` > 0 runs
    one table-maintenance pass (compact-if-over-``maintain_max_files``
    + expire + orphan sweep) every that-many epochs, INSIDE the sink —
    sequential with epochs, so maintenance never races its own writer.
    This is the full 10^12-doc landing-zone loop: append per
    micro-batch, fold small files, expire history, all while readers
    see only committed snapshots."""
    from pie_spark.pipeline import extract_stage

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        out = os.path.join(output_dir, f"batch-{epoch_id:06d}")
        # overwrite per-epoch directory = idempotent on retry
        mentions, _ = extract_stage(spark, cfg, batch_df, dict_df)
        mentions.write.mode("overwrite").parquet(out)
        if snapshot_table is not None:
            snapshot_table.add_files(
                "mentions", out, meta={"epoch": epoch_id}, key=f"epoch-{epoch_id}"
            )
            if maintain_every > 0 and (epoch_id + 1) % maintain_every == 0:
                snapshot_table.maintain(
                    spark,
                    "mentions",
                    max_files=maintain_max_files,
                    orphan_age_sec=3600.0,
                )

    stream = read_stream(spark, DOC_SCHEMA, input_dir, max_files_per_trigger)
    return drain(stream, checkpoint_dir, process)


def read_streamed_mentions(spark: SparkSession, output_dir: str) -> DataFrame:
    """All mention rows committed by the streaming sink so far."""
    return spark.read.parquet(os.path.join(output_dir, "batch-*"))
