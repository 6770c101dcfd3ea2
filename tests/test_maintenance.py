"""Table maintenance on the snapshot seam (r06): compact /
expire_snapshots / remove_orphans — the Iceberg maintenance actions
(rewrite_data_files, expire_snapshots, remove_orphan_files) a standing
landing zone needs once streaming ingest commits one snapshot per
micro-batch (SURVEY.md §2.1 S2; io/snapshots.py docstrings map each
method 1:1)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from pie_spark.io.snapshots import CommitConflictError, SnapshotTable


def _files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def test_compact_rewrites_files_preserves_content(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(1000).select(
        F.col("id").cast("string").alias("doc_id"), (F.col("id") % 7).alias("x")
    )
    t.commit({"d": df.repartition(64), "other": spark.range(5).toDF("id")})
    before = _rows(t.scan(spark, "d"))
    assert len(_files(t.snapshots()[-1].datasets["d"])) >= 32

    sid = t.compact(spark, "d", target_files=4)
    assert t.current_snapshot() == sid
    snap = t.snapshots()[-1]
    assert len(_files(snap.datasets["d"])) <= 4
    assert _rows(t.scan(spark, "d")) == before
    assert snap.meta["operation"] == "compact"


def test_compact_carries_other_datasets_by_reference(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(100).toDF("id"), "other": spark.range(9).toDF("id")})
    s1 = t.snapshots()[-1]
    t.compact(spark, "d", target_files=2)
    s2 = t.snapshots()[-1]
    # unchanged dataset: same dir, no rewrite (Iceberg shares manifests)
    assert s2.datasets["other"] == s1.datasets["other"]
    assert s2.datasets["d"] != s1.datasets["d"]
    # time travel to the pre-compaction snapshot still works
    assert _rows(t.scan(spark, "d", snapshot_id=s1.id)) == _rows(
        t.scan(spark, "d", snapshot_id=s2.id)
    )


def test_compact_preserves_directory_partitioning(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("bucket")
    )
    t.commit_partitioned({"d": (df.repartition(16), ["bucket"])})
    before = _rows(t.scan(spark, "d"))
    t.compact(spark, "d", target_files=1)
    snap = t.snapshots()[-1]
    # partition dirs survive the rewrite → pruning still possible
    assert glob.glob(os.path.join(snap.datasets["d"], "bucket=*"))
    assert _rows(t.scan(spark, "d")) == before
    assert snap.partitions["d"] == ["bucket"]


def test_compact_validates_concurrent_replacement(spark, tmp_path):
    """A writer replacing the dataset between the rewrite-read and the
    publish must abort the compaction (Iceberg rewrite validation) —
    a blind commit would silently drop the writer's data."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(10).toDF("id")})
    base = t.current_snapshot()
    # the concurrent writer wins first
    t.commit({"d": spark.range(99).toDF("id")})
    with pytest.raises(CommitConflictError, match="replaced concurrently"):
        t.compact(spark, "d", expected_snapshot_id=base)
    # the winner's data is intact and current
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(99)}
    # the aborted rewrite dir was cleaned up: nothing orphaned
    assert t.remove_orphans(older_than_sec=0.0) == []


def test_expire_snapshots_prunes_metadata_then_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for n in (10, 20, 30):
        t.commit({"d": spark.range(n).toDF("id")})
    dirs = [s.datasets["d"] for s in t.snapshots()]
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    assert [s.id for s in t.snapshots()] == [3]
    # expired data dirs gone, current intact
    assert not os.path.exists(dirs[0]) and not os.path.exists(dirs[1])
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(30)}
    # time travel past the horizon raises, like Iceberg
    with pytest.raises(ValueError, match="not found"):
        t.scan(spark, "d", snapshot_id=1)


def test_expire_keeps_dirs_shared_with_retained_snapshots(spark, tmp_path):
    """Compaction snapshots carry unchanged datasets forward by
    reference; expiring the pre-compaction snapshot must NOT delete a
    dir the retained snapshot still points at."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(50).toDF("id"), "other": spark.range(7).toDF("id")})
    t.compact(spark, "d", target_files=1)
    shared_other = t.snapshots()[-1].datasets["other"]
    old_d = t.snapshots()[0].datasets["d"]
    assert t.expire_snapshots(keep_last=1) == [1]
    assert os.path.exists(shared_other)  # shared → retained
    assert not os.path.exists(old_d)  # only the old rewrite dies
    assert _rows(t.scan(spark, "other")) == {(i,) for i in range(7)}


def test_remove_orphans_age_guarded(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(5).toDF("id")})
    # a crashed commit: data written, CAS never reached
    orphan = os.path.join(t.root, "d", "snap-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    # fresh dirs are protected (an in-flight writer looks exactly like
    # this) …
    assert t.remove_orphans(older_than_sec=3600.0) == []
    assert os.path.exists(orphan)
    # … old ones are collected; referenced dirs never touched
    assert t.remove_orphans(older_than_sec=0.0) == [orphan]
    assert not os.path.exists(orphan)
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(5)}


def test_append_accumulates_then_compacts(spark, tmp_path):
    """Fast-append (Iceberg): each append publishes a snapshot
    referencing the previous dirs PLUS one new dir — no rewrite.
    Compaction folds the grown list back to one dir; time travel to the
    pre-compaction snapshot still reads the union."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(0, 100).toDF("id")})
    t.append({"d": spark.range(100, 200).toDF("id")})
    t.append({"d": spark.range(200, 300).toDF("id")})
    assert len(t.snapshots()[-1].datasets["d"]) == 3  # list of dirs
    full = {(i,) for i in range(300)}
    assert _rows(t.scan(spark, "d")) == full

    pre = t.current_snapshot()
    t.compact(spark, "d", target_files=2)
    assert isinstance(t.snapshots()[-1].datasets["d"], str)  # folded
    assert _rows(t.scan(spark, "d")) == full
    assert _rows(t.scan(spark, "d", snapshot_id=pre)) == full


def test_add_files_idempotent_by_path_and_key(spark, tmp_path):
    """The foreachBatch bridge: registering an already-written dir is
    zero-copy; a retried epoch is a no-op by path, and by KEY even after
    compaction folded the path away (the case path-idempotence misses)."""
    t = SnapshotTable(str(tmp_path / "t"))
    ext = str(tmp_path / "batch-000001")
    spark.range(50).toDF("id").write.parquet(ext)

    s1 = t.add_files("d", ext, key="epoch-1")
    assert t.add_files("d", ext, key="epoch-1") == s1  # path + key no-op
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(50)}

    t.compact(spark, "d", target_files=1)  # folds ext out of the list
    cur = t.current_snapshot()
    # retried epoch after the fold: path is gone from metadata, but the
    # applied key survives → still a no-op, no duplicate rows
    assert t.add_files("d", ext, key="epoch-1") == cur
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(50)}


def test_compact_sort_by_clusters_key_ranges(spark, tmp_path):
    """sort_by compaction (Iceberg sort-strategy rewrite): output files
    cover disjoint key ranges, so parquet min/max stats prune scans on
    the sort key."""
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(1000).select(
        (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("v")
    )
    t.commit({"d": df.repartition(16)})
    before = _rows(t.scan(spark, "d"))
    t.compact(spark, "d", target_files=4, sort_by=["k"])
    assert _rows(t.scan(spark, "d")) == before
    assert t.snapshots()[-1].meta["sort_by"] == ["k"]

    files = _files(t.snapshots()[-1].datasets["d"])
    assert 2 <= len(files) <= 4
    ranges = sorted(
        tuple(
            spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        )
        for f in files
    )
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # pairwise disjoint → min/max pruning works


def test_maintain_policy_compacts_expires_sweeps(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(0, 10).toDF("id").repartition(4)})
    for b in range(1, 5):
        t.append({"d": spark.range(b * 10, b * 10 + 10).toDF("id").repartition(4)})
    full = {(i,) for i in range(50)}

    # below threshold: no compaction, expiry still applies
    r = t.maintain(spark, "d", max_files=100, keep_last=10)
    assert r["compacted_snapshot"] is None and r["expired"] == []

    r = t.maintain(spark, "d", max_files=8, target_files=2, keep_last=1)
    assert isinstance(r["compacted_snapshot"], int)
    assert r["files_before"] >= 16 and t.data_file_count("d") <= 2
    assert len(r["expired"]) >= 4  # history collapsed to keep_last
    assert _rows(t.scan(spark, "d")) == full
    # all expired append dirs physically reclaimed
    assert t.remove_orphans(older_than_sec=0.0) == []


def test_stream_ingest_publishes_and_maintains_snapshots(spark, tmp_path):
    """End-to-end landing-zone loop: foreachBatch extraction appends
    each micro-batch to the snapshot table (zero-copy add_files), the
    in-sink maintenance pass folds small files, and the table scan stays
    ≡ the batch extraction over the same docs — including across a
    restart with nothing new."""
    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.pipeline import extract_stage
    from pie_spark.streaming.ingest import stream_extract_mentions

    from .conftest import SF_DIR

    cols = ["doc_id", "span_idx", "start", "end", "mention_type", "surface", "detector"]
    cfg = PipelineConfig()
    d = entity_dict_df(spark)
    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)

    in_dir, out_dir, ckpt = (
        str(tmp_path / "landing"), str(tmp_path / "mentions"), str(tmp_path / "ckpt")
    )
    t = SnapshotTable(str(tmp_path / "table"))
    docs.repartition(6).write.mode("append").parquet(in_dir)  # 6 files → 3 batches
    n = stream_extract_mentions(
        spark, cfg, in_dir, d, out_dir, ckpt,
        max_files_per_trigger=2,  # force several micro-batches
        snapshot_table=t, maintain_every=2, maintain_max_files=4,
    )
    assert n >= 2
    want = {tuple(r) for r in extract_stage(spark, cfg, docs, d)[0].select(*cols).collect()}
    got = {tuple(r) for r in t.scan(spark, "mentions").select(*cols).collect()}
    assert got == want and len(want) > 0
    # maintenance actually folded: far fewer files than batches × parts
    assert t.data_file_count("mentions") < 8 * n

    # restart with nothing new: no reprocessing, no re-registration
    cur = t.current_snapshot()
    stream_extract_mentions(
        spark, cfg, in_dir, d, out_dir, ckpt, snapshot_table=t,
    )
    assert t.current_snapshot() == cur
    assert {tuple(r) for r in t.scan(spark, "mentions").select(*cols).collect()} == want


# -- the shared optimistic-commit loop, writer by writer ----------------------


def _race_sibling_once(monkeypatch, spark, root: str) -> list[int]:
    """Patch the CAS so that, inside the FIRST publish attempt, a
    competitor appends to the sibling dataset ``side`` — claiming the
    exact metadata version the writer under test is about to publish.
    Returns the raced version(s)."""
    orig = SnapshotTable._try_publish
    raced: list[int] = []

    def racing_publish(self, m, version):
        if not raced:
            raced.append(version)
            SnapshotTable(root).append(
                {"side": spark.range(100, 105).toDF("id")}, meta={"who": "competitor"}
            )
        return orig(self, m, version)

    monkeypatch.setattr(SnapshotTable, "_try_publish", racing_publish)
    return raced


def _batch_dir(spark, tmp_path) -> str:
    ext = str(tmp_path / "batch-000001")
    spark.range(10, 20).toDF("id").write.parquet(ext)
    return ext


# writer -> (call, the rows of dataset "d" once it has published)
_WRITERS = {
    "append": (
        lambda spark, t, tmp: t.append({"d": spark.range(10, 20).toDF("id")}),
        range(20),
    ),
    "add_files": (
        lambda spark, t, tmp: t.add_files("d", _batch_dir(spark, tmp), key="e1"),
        range(20),
    ),
    "add_files_many": (
        lambda spark, t, tmp: t.add_files_many({"d": _batch_dir(spark, tmp)}, key="e1"),
        range(20),
    ),
    "replace_dataset": (
        lambda spark, t, tmp: t.replace_dataset("d", spark.range(10, 20).toDF("id")),
        range(10, 20),
    ),
    "compact": (
        lambda spark, t, tmp: t.compact(spark, "d", target_files=1),
        range(10),
    ),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_writer_rebases_on_lost_metadata_race(spark, tmp_path, monkeypatch, writer):
    """Every writer shares one optimistic-commit loop: a competitor
    publishing to a SIBLING dataset between the writer's metadata read
    and its publish makes the CAS fail; the writer rebases onto the
    competitor's snapshot and republishes — both changes visible,
    nothing clobbered."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(10).toDF("id"), "side": spark.range(3).toDF("id")})
    raced = _race_sibling_once(monkeypatch, spark, t.root)
    call, want_d = _WRITERS[writer]
    sid = call(spark, t, tmp_path)
    monkeypatch.undo()

    assert raced == [2]  # the competitor took the writer's first version
    assert sid == 3 == t.current_snapshot()
    snaps = {s.id: s for s in t.snapshots()}
    assert snaps[2].meta["who"] == "competitor" and snaps[3].parent == 2
    assert _rows(t.scan(spark, "d")) == {(i,) for i in want_d}
    assert _rows(t.scan(spark, "side")) == {(i,) for i in [*range(3), *range(100, 105)]}


def test_expire_snapshots_rebases_on_lost_metadata_race(spark, tmp_path, monkeypatch):
    """expire_snapshots publishes through the same loop: after losing
    the race it expires against the competitor's metadata, so the
    competitor's snapshot is the one retained and no dir it references
    is deleted."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(10).toDF("id"), "side": spark.range(3).toDF("id")})
    t.append({"d": spark.range(10, 20).toDF("id")})
    raced = _race_sibling_once(monkeypatch, spark, t.root)
    expired = t.expire_snapshots(keep_last=1)
    monkeypatch.undo()

    assert raced == [3]
    assert expired == [1, 2]
    assert [s.id for s in t.snapshots()] == [3]
    assert t.snapshots()[0].meta["who"] == "competitor"
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(20)}
    assert _rows(t.scan(spark, "side")) == {(i,) for i in [*range(3), *range(100, 105)]}


def test_compact_exhausted_retries_removes_rewrite_dir(spark, tmp_path, monkeypatch):
    """With ``max_retries=0`` one lost race exhausts the loop: compact
    raises, the competitor's snapshot stays current, and the rewrite dir
    is removed rather than left as an orphan."""
    t = SnapshotTable(str(tmp_path / "t"), max_retries=0)
    t.commit({"d": spark.range(10).toDF("id"), "side": spark.range(3).toDF("id")})
    d_dir = t.snapshots()[0].datasets["d"]
    _race_sibling_once(monkeypatch, spark, t.root)
    with pytest.raises(CommitConflictError, match="lost the metadata race"):
        t.compact(spark, "d", target_files=1)
    monkeypatch.undo()

    assert t.current_snapshot() == 2
    assert t.snapshots()[-1].meta["who"] == "competitor"
    assert os.listdir(os.path.dirname(d_dir)) == [os.path.basename(d_dir)]
    assert t.remove_orphans(older_than_sec=0.0) == []
