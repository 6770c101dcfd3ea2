"""SparkSession factory with the engine's scale-oriented defaults.

AQE on (north_rule BASELINE.json:14 — "AQE-tuned shuffles"), Arrow on
(input_hint — vectorized pandas/Arrow UDFs), skew-join on as the
backstop behind our explicit salting (SURVEY.md §4).

Driver-built frames (the entity dictionary, the driver-path CC labels,
the salted-CC hot list) go through :func:`local_frame`, so their scans
stay in the JVM.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def build_session(
    app_name: str = "pie_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch: int = 4096,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cores}]"
    if shuffle_partitions is None:
        n = int(cores) if cores.isdigit() else 32
        shuffle_partitions = max(2 * n, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        # runtime bloom semi-filters: when a big⋈big shuffle join has a
        # selective build side (the dictionary-scale gazetteer fallback,
        # linking past broadcast), Spark injects a bloom filter that
        # prunes probe rows BEFORE the shuffle — free at broadcast scale
        # (inapplicable), decisive at fallback scale
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("PIE_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Janino class cache (static conf, default 100 entries). One
        # steady-state pipeline run generates ~130-150 distinct classes
        # (measured with CodegenMetrics: 131 per fresh run_checkpointed,
        # ~151 per resume), so the default cache evicts the run's own
        # classes before the next run needs them and every run
        # recompiles them all, keeping the JIT compiler threads busy
        # too. 1000 entries hold a whole run with room for the query
        # suite; a repeated run then compiles a handful of classes.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # Shuffle/spill dir: tmpfs removes the single-disk I/O serialization
    # that caps multi-core scaling on this box, BUT spills landing in RAM
    # no longer relieve memory pressure — so tmpfs is used only when
    # PIE_LOCAL_DIR asks for it explicitly, or /dev/shm has generous
    # headroom (>= 32 GiB free). Otherwise Spark's disk default stands.
    local_dir = os.environ.get("PIE_LOCAL_DIR")
    if local_dir is None:
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 32 << 30:
                local_dir = "/dev/shm/pie-spark-local"
        except OSError:
            pass
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, schema: T.StructType, columns: list) -> DataFrame:
    """DataFrame over driver-side columns (one sequence per ``schema``
    field), built from a ``pyarrow.Table``: Spark plans it as a
    JVM-local ``LocalTableScan``. A list of rows would instead become a
    ``parallelize`` RDD (``Scan ExistingRDD``) whose every scan runs
    Python tasks in a second worker daemon."""
    return spark.createDataFrame(pa.table(dict(zip(schema.names, columns))), schema)
