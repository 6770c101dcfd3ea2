"""Session defaults that pay off across runs in one live session."""

from __future__ import annotations

from pie_spark.config import PipelineConfig
from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
from pie_spark.pipeline import run

from .conftest import SF_DIR


def _compilations(spark) -> int:
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_a_pipeline_run(spark, tmp_path):
    """A repeated pipeline run reuses its generated classes: the Janino
    cache (session.build_session) is sized for a whole run, so the second
    run compiles next to nothing (at the default 100 entries it
    recompiled over a hundred classes)."""
    path = str(tmp_path / "docs.parquet")
    interleaved_docs(spark, SF_DIR).write.parquet(path)
    counts = []
    for _ in range(2):
        before = _compilations(spark)
        res = run(spark, PipelineConfig(), spark.read.parquet(path), entity_dict_df(spark))
        n = res.triples.count()
        counts.append(_compilations(spark) - before)
        res.unpersist()
    assert n > 0
    assert counts[1] <= 20, counts
