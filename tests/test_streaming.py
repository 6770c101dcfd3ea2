"""Structured Streaming ingestion: incremental extraction ≡ batch
extraction, with checkpointed offset tracking across restarts."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pie_spark.config import PipelineConfig
from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
from pie_spark.pipeline import extract_stage
from pie_spark.streaming.ingest import read_streamed_mentions, stream_extract_mentions

from .conftest import SF_DIR

_MENTION_COLS = ["doc_id", "span_idx", "start", "end", "mention_type", "surface", "detector"]


def _mention_set(df):
    return {tuple(r) for r in df.select(*_MENTION_COLS).collect()}


def test_stream_equals_batch_and_resumes(spark, tmp_path):
    cfg = PipelineConfig()
    d = entity_dict_df(spark)
    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)
    half1 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    half2 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 1)

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "mentions")
    ckpt = str(tmp_path / "stream_ckpt")

    # first files land → drain
    half1.write.mode("append").parquet(in_dir)
    n1 = stream_extract_mentions(spark, cfg, in_dir, d, out_dir, ckpt)
    assert n1 >= 1
    got1 = _mention_set(read_streamed_mentions(spark, out_dir))
    assert got1 == _mention_set(extract_stage(spark, cfg, half1, d)[0])
    assert len(got1) > 0

    # stream "restarts": nothing new → no duplicate reprocessing
    n_idle = stream_extract_mentions(spark, cfg, in_dir, d, out_dir, ckpt)
    assert n_idle == 0
    assert _mention_set(read_streamed_mentions(spark, out_dir)) == got1

    # more files land → only the delta is processed; union ≡ full batch
    half2.write.mode("append").parquet(in_dir)
    stream_extract_mentions(spark, cfg, in_dir, d, out_dir, ckpt)
    got_all = _mention_set(read_streamed_mentions(spark, out_dir))
    assert got_all == _mention_set(extract_stage(spark, cfg, docs, d)[0])
    assert got_all > got1


def _drivers():
    from pie_spark.streaming import counters, dedup, ingest, rollup, sessions

    return {
        "surface_counts": lambda s, d, n: counters.stream_surface_counts(
            s, d, d + "/out", d + "/ckpt", max_files_per_trigger=n
        ),
        "dedup_docs": lambda s, d, n: dedup.streaming_dedup_docs(
            s, d, d + "/out", d + "/ckpt", max_files_per_trigger=n
        ),
        "neardup_index": lambda s, d, n: dedup.stream_neardup_index(
            s, d, d + "/out", d + "/ckpt", None, max_files_per_trigger=n
        ),
        "extract_mentions": lambda s, d, n: ingest.stream_extract_mentions(
            s, PipelineConfig(), d, None, d + "/out", d + "/ckpt",
            max_files_per_trigger=n,
        ),
        "rollup": lambda s, d, n: rollup.stream_rollup(
            s, d, d + "/out", d + "/ckpt", width_us=1, max_files_per_trigger=n
        ),
        "hdr_sketch": lambda s, d, n: rollup.stream_hdr_sketch(
            s, d, d + "/out", d + "/ckpt", max_files_per_trigger=n
        ),
        "sessions": lambda s, d, n: sessions.stream_sessions(
            s, d, d + "/out", d + "/ckpt", gap_sec=600, max_files_per_trigger=n
        ),
    }


@pytest.mark.parametrize("n", [0, -1])
@pytest.mark.parametrize(
    "driver",
    ["surface_counts", "dedup_docs", "neardup_index", "extract_mentions",
     "rollup", "hdr_sketch", "sessions"],
)
def test_max_files_per_trigger_below_one_rejected(spark, tmp_path, driver, n):
    """One rule for every driver: None drains unbounded, a bound below 1
    raises ValueError before any query starts (no checkpoint written)."""
    d = str(tmp_path)
    with pytest.raises(ValueError, match="max_files_per_trigger"):
        _drivers()[driver](spark, d, n)
    assert not os.path.exists(d + "/ckpt")


def test_latest_per_key_takes_each_keys_latest_epoch(spark, tmp_path):
    """Key A lands in epochs 0 and 2, key B only in epoch 1: A's row
    comes from epoch 2, B's from epoch 1, and the epoch column is gone."""
    from pie_spark.streaming.drain import latest_per_key

    for epoch, rows in ((0, [("A", 0)]), (1, [("B", 1)]), (2, [("A", 2)])):
        spark.createDataFrame(rows, "k string, v long").write.parquet(
            str(tmp_path / f"epoch-{epoch:06d}")
        )
    got = latest_per_key(spark, str(tmp_path), ["k"])
    assert got.columns == ["k", "v"]
    assert sorted(tuple(r) for r in got.collect()) == [("A", 2), ("B", 1)]


def test_streaming_dedup_state_across_batches(spark, tmp_path):
    """First-seen content survives; duplicates arriving in LATER
    micro-batches are suppressed by the state store; the surviving key
    set equals batch exact-dedup over the same files."""
    from pie_spark.dedup.exact import duplicate_groups
    from pie_spark.streaming.dedup import streaming_dedup_docs

    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)
    half1 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    # half2 contains NEW docs plus exact copies of half1 docs (re-crawl)
    half2 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 1).unionByName(
        half1.limit(20)
    )

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")

    half1.write.mode("append").parquet(in_dir)
    streaming_dedup_docs(spark, in_dir, out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()

    half2.write.mode("append").parquet(in_dir)
    streaming_dedup_docs(spark, in_dir, out_dir, ckpt)
    out = spark.read.parquet(out_dir)

    # exactly one survivor per distinct content key, across batches
    assert out.groupBy("content_md5").count().filter("count > 1").count() == 0
    # the 20 re-crawled duplicates were suppressed by cross-batch state
    flat_all = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.transform("spans", lambda sp: F.coalesce(sp["text"], F.lit("")))
        ).alias("text"),
    )
    batch_keys = {r["content_md5"] for r in duplicate_groups(flat_all).collect()}
    stream_keys = {r["content_md5"] for r in out.select("content_md5").collect()}
    assert stream_keys == batch_keys
    assert out.count() == len(batch_keys) >= n1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Bounded-state mode (ADVICE r03): the reader carries event_time
    through DOC_EVENT_SCHEMA, the watermark attaches to it, and
    duplicates arriving inside the window are suppressed exactly like
    the unbounded mode — previously this path raised AnalysisException
    unconditionally because the schema had no event_time column."""
    from pie_spark.streaming.dedup import streaming_dedup_docs

    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)
    base = docs.limit(40).withColumn(
        "event_time", F.to_timestamp(F.lit("2026-01-01 00:00:00"))
    )
    # re-crawled copies 10 minutes later — inside the 1-hour window
    recrawl = (
        docs.limit(10)
        .withColumn("doc_id", F.concat(F.lit("re-"), F.col("doc_id")))
        .withColumn("event_time", F.to_timestamp(F.lit("2026-01-01 00:10:00")))
    )

    in_dir = str(tmp_path / "landing")
    base.unionByName(recrawl).write.mode("append").parquet(in_dir)
    out_dir = str(tmp_path / "deduped")
    streaming_dedup_docs(
        spark, in_dir, out_dir, str(tmp_path / "ckpt"), within_watermark="1 hour"
    )

    out = spark.read.parquet(out_dir)
    assert "event_time" in out.columns
    assert out.groupBy("content_md5").count().filter("count > 1").count() == 0
    # every distinct content key survived exactly once ≡ batch dedup
    from pie_spark.dedup.exact import duplicate_groups

    flat_all = base.unionByName(recrawl).select(
        "doc_id",
        F.concat_ws(
            " ", F.transform("spans", lambda sp: F.coalesce(sp["text"], F.lit("")))
        ).alias("text"),
    )
    batch_keys = {r["content_md5"] for r in duplicate_groups(flat_all).collect()}
    assert {r["content_md5"] for r in out.select("content_md5").collect()} == batch_keys


def test_stateful_surface_counts_accumulate(spark, tmp_path):
    """applyInPandasWithState custom accumulator: per-surface totals
    grow monotonically across drains, state survives query restarts,
    and the final totals equal the batch groupBy over all mentions."""
    from pie_spark.streaming.counters import latest_counts, stream_surface_counts

    cfg = PipelineConfig()
    d = entity_dict_df(spark)
    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)
    half1 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    half2 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 1)

    in_dir = str(tmp_path / "landing")
    m_dir = str(tmp_path / "mentions")
    ing_ckpt = str(tmp_path / "ingest_ckpt")
    cnt_dir = str(tmp_path / "counts")
    cnt_ckpt = str(tmp_path / "counts_ckpt")

    half1.write.mode("append").parquet(in_dir)
    stream_extract_mentions(spark, cfg, in_dir, d, m_dir, ing_ckpt)
    stream_surface_counts(spark, m_dir, cnt_dir, cnt_ckpt)
    c1 = {r["norm_key"]: r["mentions_total"] for r in latest_counts(spark, cnt_dir).collect()}
    assert c1 and all(v > 0 for v in c1.values())

    half2.write.mode("append").parquet(in_dir)
    stream_extract_mentions(spark, cfg, in_dir, d, m_dir, ing_ckpt)
    stream_surface_counts(spark, m_dir, cnt_dir, cnt_ckpt)
    c2 = {r["norm_key"]: r["mentions_total"] for r in latest_counts(spark, cnt_dir).collect()}

    # monotone accumulation (state carried across separate drains)
    assert all(c2.get(k, 0) >= v for k, v in c1.items())
    assert sum(c2.values()) > sum(c1.values())

    # final totals == batch ground truth over the same mention files
    from pie_spark.extract.normalize import norm_key
    from pie_spark.streaming.ingest import read_streamed_mentions

    truth = {
        r["norm_key"]: r["n"]
        for r in read_streamed_mentions(spark, m_dir)
        .filter(F.col("mention_type") == "PERSON")
        .select(norm_key(F.col("surface")).alias("norm_key"))
        .groupBy("norm_key")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert c2 == truth

    # the incremental hot-key list ≡ batch A4 over the same mentions
    from pie_spark.streaming.counters import hot_keys_from_counts

    got_hot = hot_keys_from_counts(spark, cnt_dir, k=5)
    want_hot = [
        k for k, _ in sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    ]
    assert got_hot == want_hot


def test_planted_hot_list_salts_identical_triples(spark):
    """Salting the fallback's J1/J4 joins on ANY hot list (here a
    planted one that is not the A4 list) must produce byte-identical
    triples — salting is result-preserving (VERDICT r05 next#7), which
    is what lets hot_keys_from_counts stand in for the batch A4 scan."""
    import contextlib
    import io

    from pie_spark.canon.canonical import key_canonical_map
    from pie_spark.canon.cc import adaptive_components
    from pie_spark.canon.edges import build_edges
    from pie_spark.extract.spans import media_refs
    from pie_spark.graph.triples import _with_canon, all_triples
    from pie_spark.link.linker import link_mentions
    from pie_spark.link.stats import hot_keys, surface_frequencies
    from pie_spark.pipeline import run

    docs = interleaved_docs(spark, SF_DIR).limit(60).localCheckpoint(eager=True)
    d = entity_dict_df(spark)

    # force the non-broadcast path so the A4 hot list salts J1/J4
    cfg = PipelineConfig(dict_max_surfaces=10)
    base = run(spark, cfg, docs, d)
    cols = ("subj", "pred", "obj", "doc_id")
    t_base = {tuple(r) for r in base.triples.select(*cols).collect()}
    a4_hot = hot_keys(surface_frequencies(base.merged_mentions), cfg.hot_k)
    assert a4_hot  # the A4 scan finds hot keys

    # a DIFFERENT hot list: reversed A4 plus a decoy
    planted = list(reversed(a4_hot[: max(1, len(a4_hot) // 2)])) + ["zz_decoy"]
    linked = link_mentions(base.merged_mentions, d, hot=planted, salt_k=cfg.salt_k)
    key_map = key_canonical_map(adaptive_components(spark, build_edges(d)))
    seeded = _with_canon(linked, key_map, hot=planted, salt_k=cfg.salt_k)
    triples = all_triples(media_refs(docs), seeded, base.merged_mentions, cfg.pii_types)
    t_seeded = {tuple(r) for r in triples.select(*cols).collect()}
    assert t_seeded == t_base and len(t_base) > 0
    # the planted list, not A4, is what salts: the decoy shows in the
    # salted join's optimized plan
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seeded.explain("extended")
    assert "_salt" in buf.getvalue()
    assert "zz_decoy" in buf.getvalue()
    base.unpersist()


def test_stream_neardup_index_accumulates_to_batch(spark, tmp_path):
    """Streaming incremental LSH dedup: draining a corpus through ANY
    epoch partitioning accumulates exactly the batch near_duplicates
    pair set; the standing index grows atomically per epoch; committed
    epochs never recompute on replay."""
    from pie_spark.dedup.minhash import near_duplicates
    from pie_spark.io.snapshots import SnapshotTable
    from pie_spark.streaming.dedup import stream_neardup_index

    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)
    half1 = docs.filter(F.crc32(F.col("doc_id")) % 2 == 0)
    # epoch 2: new docs + near-copies of epoch-1 docs (cross-epoch pairs)
    # + near-copies of its own docs (within-epoch new×new pairs)
    clones1 = half1.limit(8).select(
        F.concat(F.lit("dupA-"), "doc_id").alias("doc_id"), "spans"
    )
    half2_base = docs.filter(F.crc32(F.col("doc_id")) % 2 == 1)
    clones2 = half2_base.limit(8).select(
        F.concat(F.lit("dupB-"), "doc_id").alias("doc_id"), "spans"
    )
    half2 = half2_base.unionByName(clones1).unionByName(clones2)

    in_dir = str(tmp_path / "landing")
    work = str(tmp_path / "work")
    ckpt = str(tmp_path / "ckpt")
    table = SnapshotTable(str(tmp_path / "ndx"))

    half1.write.mode("append").parquet(in_dir)
    assert stream_neardup_index(spark, in_dir, work, ckpt, table) >= 1
    n_pairs_1 = table.scan(spark, "pairs").count()

    # restart with nothing new: no reprocessing, no new snapshots
    snap_before = table.current_snapshot()
    stream_neardup_index(spark, in_dir, work, ckpt, table)
    assert table.current_snapshot() == snap_before

    half2.write.mode("append").parquet(in_dir)
    stream_neardup_index(spark, in_dir, work, ckpt, table)

    def flat(d):
        return d.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.transform("spans", lambda sp: F.coalesce(sp["text"], F.lit(""))),
            ).alias("text"),
        )

    want = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in near_duplicates(
            flat(docs.unionByName(half2.filter(F.col("doc_id").startswith("dup")))),
            threshold=0.5,
        ).collect()
    }
    got = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in table.scan(spark, "pairs").collect()
    }
    assert got == want
    assert any(a.startswith("dupA-") or b.startswith("dupA-") for a, b, _ in got)
    assert any(a.startswith("dupB-") or b.startswith("dupB-") for a, b, _ in got)
    assert got and n_pairs_1 <= len(got)

    # index coverage: one sig row per doc that produced shingles
    n_docs = docs.count() + 16
    assert table.scan(spark, "sigs").count() <= n_docs
    assert table.scan(spark, "sigs").select("doc_id").distinct().count() == \
        table.scan(spark, "sigs").count()

    # whole-epoch idempotency: a replayed committed epoch is a full
    # skip — applied() answers true and add_files_many with the same
    # key but a bogus path changes nothing
    assert table.applied("pairs", "epoch-0")
    before = table.current_snapshot()
    table.add_files_many(
        {"pairs": str(tmp_path / "bogus")}, key="epoch-0"
    )
    assert table.current_snapshot() == before
