"""End-to-end golden gate (§5.1): full pipeline on the planted corpus →
P/R ≥ 0.95 (BASELINE.json:2,6), span invariant 100% (BASELINE.json:15),
determinism across runs (§5.4)."""

import pytest
from pyspark.sql import functions as F

from pie_spark.config import PipelineConfig
from pie_spark.eval.prf import score
from pie_spark.extract.invariants import violations
from pie_spark.extract.spans import explode_spans
from pie_spark.fixtures.gen import entity_dict_df, golden_triples, interleaved_docs
from pie_spark.pipeline import run

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def result(spark):
    docs = interleaved_docs(spark, SF_DIR)
    res = run(spark, PipelineConfig(), docs, entity_dict_df(spark))
    yield res
    res.unpersist()


def test_prf_gate(spark, result):
    prf = score(result.triples, golden_triples(spark, SF_DIR))
    assert prf.precision >= 0.95, prf
    assert prf.recall >= 0.95, prf


def test_span_invariant(spark):
    docs = interleaved_docs(spark, SF_DIR)
    assert violations(docs, explode_spans(docs)) == 0


def test_all_predicates_emitted(result):
    preds = {r["pred"] for r in result.triples.select("pred").distinct().collect()}
    assert preds == {
        "MENTIONS", "HAS_MEDIA", "HAS_EMAIL", "HAS_SSN", "HAS_PHONE", "HAS_ADDRESS",
    }


def test_triple_schema(result):
    assert [f.name for f in result.triples.schema.fields] == [
        "subj", "pred", "obj", "subj_type", "obj_type", "doc_id", "confidence",
    ]


def _triple_hash(df):
    return (
        df.select(F.md5(F.concat_ws("\x00", "subj", "pred", "obj", "doc_id")).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 12), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )


def test_deterministic_across_runs(spark, result):
    docs2 = interleaved_docs(spark, SF_DIR).repartition(7)
    res2 = run(spark, PipelineConfig(), docs2, entity_dict_df(spark))
    assert _triple_hash(result.triples) == _triple_hash(res2.triples)
    res2.unpersist()
