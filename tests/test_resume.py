"""M7 tests: snapshot table atomicity, resume correctness (byte-identical
triples), lineage rows per partition (FIXTURES.md §5; BASELINE.md)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pie_spark.config import PipelineConfig
from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
from pie_spark.io.snapshots import SnapshotTable, resume_delta
from pie_spark.runner import run_checkpointed

from .conftest import SF_DIR


def _hash(df):
    return (
        df.select(F.md5(F.concat_ws("\x00", "subj", "pred", "obj", "doc_id")).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 12), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )


def test_snapshot_table_roundtrip(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    sid1 = t.commit({"d": df1}, meta={"k": "v1"})
    df2 = spark.range(9).withColumnRenamed("id", "x")
    sid2 = t.commit({"d": df2})
    assert (sid1, sid2) == (1, 2)
    assert t.current_snapshot() == 2
    assert t.scan(spark, "d").count() == 9          # current
    assert t.scan(spark, "d", sid1).count() == 5    # pinned (S2)
    assert t.meta(sid1) == {"k": "v1"}
    snaps = t.snapshots()
    assert snaps[1].parent == 1


def test_manifest_last_commit_is_atomic(spark, tmp_path):
    # a crash between data write and manifest publish must leave the old
    # snapshot current — simulate by writing data without manifest update
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(3)})
    # orphan data dir (as if a commit died pre-manifest)
    os.makedirs(str(tmp_path / "t" / "d" / "snap-000099"), exist_ok=True)
    assert t.current_snapshot() == 1
    assert t.scan(spark, "d").count() == 3


def test_resume_delta_anti_join(spark):
    docs = spark.createDataFrame([("a",), ("b",), ("c",)], ["doc_id"])
    done = spark.createDataFrame([("b",), ("x",)], ["doc_id"])
    left = sorted(r["doc_id"] for r in resume_delta(docs, done).collect())
    assert left == ["a", "c"]


@pytest.mark.slow
def test_resume_byte_identical(spark, tmp_path):
    docs = interleaved_docs(spark, SF_DIR)
    d = entity_dict_df(spark)
    half = docs.filter(F.col("doc_id").cast("long") % 2 == 0)

    ckpt = str(tmp_path / "ckpt")
    out1 = str(tmp_path / "out1")

    # phase 1: run only half the corpus, committing the extract checkpoint
    cfg1 = PipelineConfig(checkpoint_dir=ckpt, output_path="")
    r1 = run_checkpointed(spark, cfg1, half, d)
    assert r1.extract_snapshot == 1

    # phase 2: resume over the FULL corpus — only the other half re-extracts
    cfg2 = PipelineConfig(checkpoint_dir=ckpt, output_path=out1, resume=True)
    r2 = run_checkpointed(spark, cfg2, docs, d)
    assert r2.resumed_docs is not None and 0 < r2.resumed_docs < docs.count()

    # fresh uninterrupted run for comparison
    cfg3 = PipelineConfig()
    from pie_spark.pipeline import run

    fresh = run(spark, cfg3, docs, d)
    assert _hash(r2.result.triples) == _hash(fresh.triples)
    fresh.unpersist()
    r1.result.unpersist()
    r2.result.unpersist()


@pytest.mark.slow
def test_output_snapshot_lineage_and_buckets(spark, tmp_path):
    docs = interleaved_docs(spark, SF_DIR)
    d = entity_dict_df(spark)
    out = str(tmp_path / "out")
    cfg = PipelineConfig(output_path=out, checkpoint_dir=str(tmp_path / "ck"), buckets=8)
    r = run_checkpointed(spark, cfg, docs, d, input_snapshot="sf0.001")
    t = SnapshotTable(out)

    # triples round-trip through the sink, pred-partitioned dirs exist
    triples = t.scan(spark, "triples")
    assert triples.count() == r.result.triples.count()
    snap_dir = t._resolve(None)["datasets"]["triples"]
    assert any(p.startswith("pred=") for p in os.listdir(snap_dir))

    # lineage rows exist for every partition of both stages
    lin = t.scan(spark, "lineage")
    stages = {x["stage"] for x in lin.select("stage").distinct().collect()}
    assert stages == {"extract", "materialize"}
    assert lin.filter(F.col("docs_in") <= 0).count() == 0
    assert lin.filter(F.col("input_snapshot") != "sf0.001").count() == 0
    r.result.unpersist()


def test_resume_recovers_dict_mode_from_snapshot_meta(spark, tmp_path):
    """ADVICE r04: a fully-covered resume never re-probes the
    dictionary, so dict_mode must come back from the extract snapshot's
    meta — otherwise downstream_stage would F.broadcast() the oversized
    dictionary the shard fallback exists to keep off the driver."""
    docs = interleaved_docs(spark, SF_DIR).limit(40).localCheckpoint(eager=True)
    d = entity_dict_df(spark)
    ckpt = str(tmp_path / "ck")

    cfg = PipelineConfig(dict_max_surfaces=10, checkpoint_dir=ckpt)
    r1 = run_checkpointed(spark, cfg, docs, d)
    assert r1.result.dict_mode == "shard_fallback"
    assert SnapshotTable(ckpt).meta()["dict_mode"] == "shard_fallback"

    # fully-covered resume (same docs): no extract runs, no probe — the
    # mode must still be the fallback, recovered from the snapshot meta
    cfg2 = PipelineConfig(dict_max_surfaces=10, checkpoint_dir=ckpt, resume=True)
    r2 = run_checkpointed(spark, cfg2, docs, d)
    assert r2.resumed_docs == 0
    assert r2.result.dict_mode == "shard_fallback"
    t1 = {tuple(r) for r in r1.result.triples.select("subj", "pred", "obj").collect()}
    t2 = {tuple(r) for r in r2.result.triples.select("subj", "pred", "obj").collect()}
    assert t1 == t2 and len(t1) > 0
    r1.result.unpersist()
    r2.result.unpersist()


# ---------------------------------------------------------------------------
# prep-flow resume (VERDICT r02 #8): training_manifest through the
# stage-checkpointed prep runner — byte-identical after interrupt+resume
# ---------------------------------------------------------------------------


def _manifest_hash(df):
    return (
        df.select(
            F.md5(
                F.concat_ws("\x00", "doc_id", "quality_ppm", "lang_guess", "split")
            ).alias("h")
        )
        .agg(F.sum(F.conv(F.substring("h", 1, 12), 16, 10).cast("decimal(38,0)")))
        .collect()[0][0]
    )


def test_prep_resume_byte_identical(spark, tmp_path, monkeypatch):
    from pie_spark.prep import decontam
    from pie_spark.prep.runner import PrepConfig, run_prep_checkpointed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0)

    # ground truth: single-shot run, no checkpointing
    base = run_prep_checkpointed(spark, corpus, bench, PrepConfig())
    assert base.resumed_stages == [] and base.manifest_snapshot is None
    h0 = _manifest_hash(base.manifest)
    n0 = base.manifest.count()
    assert n0 > 0

    # interrupted run: crash mid-flight AFTER scores+drop are committed
    ckpt_dir = str(tmp_path / "prep_ckpt")
    real = decontam.contamination_hits
    monkeypatch.setattr(
        decontam, "contamination_hits",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("simulated crash")),
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        run_prep_checkpointed(
            spark, corpus, bench, PrepConfig(checkpoint_dir=ckpt_dir)
        )
    monkeypatch.setattr(decontam, "contamination_hits", real)

    # the crash left scores+drop snapshots behind; manifest must resume
    # from them, recompute only contam, and match the single-shot bytes
    r2 = run_prep_checkpointed(
        spark, corpus, bench, PrepConfig(checkpoint_dir=ckpt_dir)
    )
    assert r2.resumed_stages == ["scores", "drop"]
    assert _manifest_hash(r2.manifest) == h0
    assert r2.manifest.count() == n0

    # a third run resumes every stage and still matches
    r3 = run_prep_checkpointed(
        spark, corpus, bench, PrepConfig(checkpoint_dir=ckpt_dir)
    )
    assert r3.resumed_stages == ["scores", "drop", "contam"]
    assert _manifest_hash(r3.manifest) == h0


def test_prep_resume_ignores_mismatched_config(spark, tmp_path):
    """A checkpoint written under one config must NOT be reused by a run
    with different parameters — stale-stage reuse would silently apply
    the wrong threshold/split mix."""
    from pie_spark.prep.runner import PrepConfig, run_prep_checkpointed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0).limit(200).localCheckpoint(eager=True)

    ckpt_dir = str(tmp_path / "ck")
    r1 = run_prep_checkpointed(
        spark, corpus, bench, PrepConfig(checkpoint_dir=ckpt_dir)
    )
    assert r1.resumed_stages == []

    # different threshold → every stage recomputes (no resumed stages)
    r2 = run_prep_checkpointed(
        spark, corpus, bench,
        PrepConfig(checkpoint_dir=ckpt_dir, neardup_threshold=0.9),
    )
    assert r2.resumed_stages == []

    # same config as r1 again → all three stages resume
    r3 = run_prep_checkpointed(
        spark, corpus, bench, PrepConfig(checkpoint_dir=ckpt_dir)
    )
    assert r3.resumed_stages == ["scores", "drop", "contam"]


def test_prep_resume_ignores_changed_input(spark, tmp_path):
    """A checkpoint written against one corpus must NOT be served to a
    run over a different corpus (ADVICE r03): the middle stages are
    corpus-global, so stale reuse would produce a silently-wrong
    manifest. The stage key carries an input fingerprint (count + exact
    doc_id hash sum) — grown corpus, shrunk corpus, or a different
    benchmark slice all force recomputation; the identical input still
    resumes everything."""
    from pie_spark.prep.runner import PrepConfig, run_prep_checkpointed

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = docs.filter(F.col("doc_id") % 20 != 0).limit(200).localCheckpoint(eager=True)

    ckpt_dir = str(tmp_path / "ck_input")
    cfg = PrepConfig(checkpoint_dir=ckpt_dir)
    r1 = run_prep_checkpointed(spark, corpus, bench, cfg)
    assert r1.resumed_stages == []

    # "new files landed": corpus grew → nothing may resume
    bigger = docs.filter(F.col("doc_id") % 20 != 0).limit(260).localCheckpoint(eager=True)
    r2 = run_prep_checkpointed(spark, bigger, bench, cfg)
    assert r2.resumed_stages == []

    # different benchmark slice, same corpus → nothing may resume
    bench2 = docs.filter(F.col("doc_id") % 10 == 0)
    r3 = run_prep_checkpointed(spark, corpus, bench2, cfg)
    assert r3.resumed_stages == []

    # byte-identical input + config → full resume still works
    r4 = run_prep_checkpointed(spark, corpus, bench, cfg)
    assert r4.resumed_stages == ["scores", "drop", "contam"]


# ---------------------------------------------------------------------------
# concurrent-writer commit race (VERDICT r05 next#5): the optimistic
# metadata CAS must serialize racing commits like Iceberg's
# optimistic-commit loop — winners publish, losers rebase-and-retry or
# fail atomically; readers never see a torn manifest or partial data
# ---------------------------------------------------------------------------


def test_concurrent_commits_serialize(spark, tmp_path):
    """Two writer threads, 4 commits each, one table: every commit must
    land as its own snapshot with a unique contiguous id, an intact
    parent chain, and fully-readable data — no lost updates, no path
    collisions between racing writers' data files."""
    import threading

    t = SnapshotTable(str(tmp_path / "t"))
    errs: list[Exception] = []

    def writer(tag: str):
        try:
            for i in range(4):
                df = spark.range((i + 1) * 10).withColumnRenamed("id", "x")
                t.commit({"d": df}, meta={"writer": tag, "i": i})
        except Exception as e:  # pragma: no cover - surfaced via errs
            errs.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    snaps = t.snapshots()
    assert [s.id for s in snaps] == list(range(1, 9))
    assert [s.parent for s in snaps] == [None] + list(range(1, 8))
    assert t.current_snapshot() == 8
    # every writer's every commit is present exactly once
    seen = {(s.meta["writer"], s.meta["i"]) for s in snaps}
    assert seen == {(w, i) for w in ("a", "b") for i in range(4)}
    # every snapshot's data is intact and pinned-readable
    for s in snaps:
        n = t.scan(spark, "d", s.id).count()
        assert n == (s.meta["i"] + 1) * 10


def test_commit_conflict_rebases_and_retries(spark, tmp_path):
    """A competing commit landing between a writer's manifest read and
    its publish must NOT be clobbered: the loser's CAS fails, it
    rebases onto the winner's snapshot and republishes with the next
    id — both commits visible, Iceberg optimistic-commit semantics."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(3)})

    orig = SnapshotTable._try_publish
    raced = {"done": False}

    def racing_publish(self, m, version):
        if not raced["done"]:
            raced["done"] = True
            # competitor claims this exact version first
            SnapshotTable(self.root).commit(
                {"d": spark.range(7)}, meta={"who": "competitor"}
            )
        return orig(self, m, version)

    SnapshotTable._try_publish = racing_publish
    try:
        sid = t.commit({"d": spark.range(11)}, meta={"who": "loser"})
    finally:
        SnapshotTable._try_publish = orig

    assert sid == 3  # rebased past the competitor's snapshot 2
    snaps = {s.id: s for s in t.snapshots()}
    assert snaps[2].meta == {"who": "competitor"} and snaps[3].meta == {"who": "loser"}
    assert snaps[3].parent == 2
    assert t.scan(spark, "d", 2).count() == 7
    assert t.scan(spark, "d", 3).count() == 11


def test_commit_conflict_exhausted_fails_atomically(spark, tmp_path):
    """With retries exhausted the loser must fail cleanly: the table
    stays exactly as the winners published it, and the failed commit's
    data files are unreferenced — never visible to any scan."""
    from pie_spark.io.snapshots import CommitConflictError

    t = SnapshotTable(str(tmp_path / "t"), max_retries=0)
    t.commit({"d": spark.range(3)})

    def always_beaten(m, version):
        # a fresh competitor (unpatched) claims every version first
        SnapshotTable(t.root).commit({"d": spark.range(5)})
        return SnapshotTable._try_publish(t, m, version)

    t._try_publish = always_beaten  # instance-only patch
    with pytest.raises(CommitConflictError):
        t.commit({"d": spark.range(99)}, meta={"who": "loser"})
    del t._try_publish

    # winner's state intact; loser invisible
    assert t.current_snapshot() == 2
    assert t.scan(spark, "d").count() == 5
    assert all(s.meta.get("who") != "loser" for s in t.snapshots())


@pytest.mark.slow
def test_concurrent_pipeline_commits_one_output_table(spark, tmp_path):
    """Two concurrent run_checkpointed pipelines (separate checkpoints,
    SAME output table) racing their output commits: both must land,
    serialized into two snapshots with identical triple payloads, and a
    snapshot-pinned scan of either sees complete data."""
    import threading

    docs = interleaved_docs(spark, SF_DIR).limit(30).localCheckpoint(eager=True)
    d = entity_dict_df(spark)
    out = str(tmp_path / "out")
    results, errs = {}, []

    def go(tag: str):
        try:
            cfg = PipelineConfig(
                checkpoint_dir=str(tmp_path / f"ck_{tag}"), output_path=out
            )
            results[tag] = run_checkpointed(spark, cfg, docs, d, input_snapshot=tag)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=go, args=(w,)) for w in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errs == []

    t = SnapshotTable(out)
    sids = sorted(s.id for s in t.snapshots())
    assert sids == [1, 2]
    h1 = _hash(t.scan(spark, "triples", 1))
    h2 = _hash(t.scan(spark, "triples", 2))
    assert h1 == h2 and h1 is not None
    results["a"].result.unpersist()
    results["b"].result.unpersist()
