"""Skew-path equivalence (SURVEY.md §2.5 J6, BASELINE.json:14 "skew
mitigation via key salting on hot entities"): on an adversarially
skewed mention set (one entity = ~90% of mentions), the salted
shuffle-join fallback of J4 must produce exactly the broadcast plan's
rows, and the end-to-end pipeline stays correct."""

from __future__ import annotations

from pie_spark.canon.canonical import key_canonical_map
from pie_spark.canon.cc import adaptive_components
from pie_spark.canon.edges import build_edges
from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
from pie_spark.graph.triples import _with_canon
from pie_spark.link.linker import link_mentions
from pie_spark.pipeline import extract_stage
from pie_spark.config import PipelineConfig


def _linked_and_map(spark):
    docs = interleaved_docs(spark, "/root/testdata/sf0.001")
    dict_df = entity_dict_df(spark)
    merged, _ = extract_stage(spark, PipelineConfig(), docs, dict_df)
    # adversarial skew: replicate the hottest surface's mentions 30×
    # with distinct mention ids (union of shifted copies)
    from pyspark.sql import functions as F

    hot_surface = (
        merged.filter(F.col("mention_type") == "PERSON")
        .groupBy("surface").count().orderBy(F.desc("count"), "surface")
        .limit(1).collect()[0]["surface"]
    )
    hot_rows = merged.filter(F.col("surface") == hot_surface)
    skewed = merged
    for i in range(1, 4):
        skewed = skewed.unionByName(
            hot_rows.withColumn("mention_id", F.col("mention_id") + i)
        )
    linked = link_mentions(skewed, dict_df)
    labels = adaptive_components(
        spark, build_edges(dict_df), salt_k=1, driver_max_edges=10**6
    )
    return linked, key_canonical_map(labels), hot_surface


def test_salted_with_canon_equals_broadcast(spark):
    linked, key_map, hot_surface = _linked_and_map(spark)
    cols = ["mention_id", "doc_id", "span_idx", "canon_entity_id"]
    bcast = sorted(tuple(r) for r in _with_canon(linked, key_map).select(cols).collect())
    from pie_spark.extract.normalize import norm_key as nk  # hot list in norm_key space
    import pyspark.sql.functions as F

    hot_key = [
        r["norm_key"]
        for r in linked.filter(F.col("surface") == hot_surface)
        .select("norm_key").distinct().collect()
    ]
    salted = sorted(
        tuple(r)
        for r in _with_canon(linked, key_map, hot=hot_key, salt_k=8)
        .select(cols).collect()
    )
    assert bcast == salted and len(bcast) > 0
