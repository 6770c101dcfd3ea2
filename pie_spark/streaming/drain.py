"""The micro-batch protocol of every streaming/ driver: one file source,
one AvailableNow drain, one per-epoch overwrite sink and one epoch-dir
read; each driver keeps only its own per-batch logic.

``max_files`` bounds each micro-batch (``maxFilesPerTrigger``
back-pressure: executor memory stays flat whatever the backlog; tests
use it to force several micro-batches). ``None`` drains unbounded; a
value below 1 raises ``ValueError`` before any query starts.
``Trigger.AvailableNow`` processes every file landed so far, then stops;
the checkpoint's offset log makes the next drain skip committed files.
Exactly-once: each epoch overwrites its OWN ``epoch-<epoch_id>`` dir,
so a retried epoch rewrites itself instead of appending duplicates;
update-mode outputs resolve to each key's latest-epoch row
(:func:`latest_per_key`).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

def read_stream(
    spark: SparkSession, schema: StructType | str, path: str, max_files: int | None
) -> DataFrame:
    """Streaming parquet source over ``path`` (globs allowed)."""
    if max_files is not None and max_files < 1:
        raise ValueError(f"max_files_per_trigger must be None or >= 1, got {max_files}")
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return reader.parquet(path)


def drain(
    stream: DataFrame,
    checkpoint_dir: str,
    each_batch: Callable[[DataFrame, int], None] | None = None,
    file_sink_dir: str | None = None,
) -> int | None:
    """Run ``stream`` with ``Trigger.AvailableNow`` to completion into
    ``each_batch(batch_df, epoch_id)`` (foreachBatch, update mode — one
    mode for stateless and keyed-state queries alike), returning the
    micro-batches run; or, without ``each_batch``, append to the parquet
    file sink ``file_sink_dir`` (a file sink takes only append mode and
    has no per-batch hook to count, so this returns None)."""
    n_batches = 0

    def counted(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal n_batches
        n_batches += 1
        each_batch(batch_df, epoch_id)

    if each_batch is None:
        writer = stream.writeStream.format("parquet").option("path", file_sink_dir)
        writer = writer.outputMode("append")
    else:
        writer = stream.writeStream.foreachBatch(counted).outputMode("update")
    writer = writer.option("checkpointLocation", checkpoint_dir)
    writer.trigger(availableNow=True).start().awaitTermination()
    return None if each_batch is None else n_batches


def epoch_sink(
    output_dir: str, transform: Callable[[DataFrame], DataFrame] | None = None
) -> Callable[[DataFrame, int], None]:
    """foreachBatch function writing ``transform(batch)`` (or the batch
    itself) to ``output_dir/epoch-<epoch_id>``, overwriting on retry."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        out = batch_df if transform is None else transform(batch_df)
        path = os.path.join(output_dir, f"epoch-{epoch_id:06d}")
        out.write.mode("overwrite").parquet(path)

    return sink


def read_epochs(spark: SparkSession, output_dir: str) -> DataFrame:
    """Every committed epoch's rows, plus the epoch number parsed from
    each row's file path as column ``epoch``."""
    rows = spark.read.option("pathGlobFilter", "*.parquet").parquet(
        os.path.join(output_dir, "epoch-*")
    )
    epoch = F.regexp_extract(F.input_file_name(), r"epoch-(\d+)", 1).cast("long")
    return rows.withColumn("epoch", epoch)


def latest_per_key(spark: SparkSession, output_dir: str, keys: list[str]) -> DataFrame:
    """Each key's row from the latest epoch that emitted it (the epoch
    column dropped): the current value of an update-mode output."""
    rn = F.row_number().over(Window.partitionBy(*keys).orderBy(F.desc("epoch")))
    return (
        read_epochs(spark, output_dir)
        .withColumn("__rn", rn)
        .filter(F.col("__rn") == 1)
        .drop("epoch", "__rn")
    )
