"""S2/J5: snapshot-checkpointed table storage (SURVEY.md §2.1 S2, §7.3
item 5; BASELINE.json:6,14 — "resumable from Iceberg snapshot
checkpoints").

No Iceberg runtime jar exists in this sandbox (verified at survey
time), so the engine ships a **TableFormat seam** with the semantics
the spec needs — snapshot ids, atomic commits, snapshot-pinned scans,
multi-dataset checkpoints — implemented as Parquet + versioned JSON
metadata:

    <root>/_meta-<V>.json                    ← metadata version V, claimed
                                               by exclusive hard-link
    <root>/<dataset>/snap-<token>/*.parquet  ← immutable data files

On a cluster with Iceberg available, ``SnapshotTable`` maps 1:1 onto
the Iceberg API and can be swapped behind the same methods:
  * commit(...)            → df.writeTo(tbl).createOrReplace() txn
  * scan(snapshot_id=...)  → spark.read.option("snapshot-id", sid)
                             / SQL ``VERSION AS OF``
  * current_snapshot()     → table.currentSnapshot().snapshotId()

Commit protocol (optimistic, Iceberg-style — upgraded r06 for
concurrent writers, VERDICT r05 next#5): write all parquet data for the
new snapshot into UNIQUE dirs (uuid-suffixed, so racing writers never
collide on paths) → publish by creating the next versioned metadata
file ``_meta-<V+1>.json`` with an atomic exclusive ``os.link`` — the
compare-and-swap. A concurrent writer that already claimed V+1 makes
the link fail; the loser re-reads the new current snapshot, recomputes
its snapshot id, and retries the (cheap) publish — data files are
written exactly once. This is precisely Iceberg's optimistic-commit
loop: writers race on the metadata-pointer swap, losers rebase and
retry (Iceberg ``commit.retry.num-retries``); here the swap is the
exclusive hard-link, there it is the catalog's atomic pointer CAS.
Every writer runs the same loop (``_cas``) and differs only in its
``update`` rule. A crash before the link leaves the previous snapshot
current — data files of the dead snapshot are unreferenced garbage,
never visible — the same reader-visible atomicity Iceberg's metadata
swap gives. Readers load the highest ``_meta-*.json`` (complete by
construction: it is hard-linked into place only after write+fsync);
tables written by the pre-r06 layout fall back to legacy
``_manifest.json``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    id: int
    # dataset -> data dir, or LIST of dirs once appends accumulate
    # (Iceberg: one manifest list referencing many data files)
    datasets: dict[str, str | list[str]]
    committed_at: str
    parent: int | None
    meta: dict = field(default_factory=dict)
    # directory-partition columns per dataset (recorded since r06 so
    # maintenance rewrites preserve the layout; absent in older tables)
    partitions: dict = field(default_factory=dict)


def _dirs(v: str | list[str]) -> list[str]:
    """A dataset's data dirs: single-dir commits stay plain strings in
    metadata (back-compat with pre-append tables); appends grow lists."""
    return v if isinstance(v, list) else [v]


def _referenced(snapshots: list[dict]) -> set[str]:
    """Every data dir the given snapshot records reference."""
    return {p for s in snapshots for v in s["datasets"].values() for p in _dirs(v)}


def _current(m: dict) -> dict:
    """The current snapshot record of metadata ``m`` (an empty one for
    a table with no snapshot yet)."""
    if m["current"] is None:
        return {"datasets": {}, "partitions": {}}
    return next(s for s in m["snapshots"] if s["id"] == m["current"])


def _next_snapshot(
    m: dict, cur: dict, datasets: dict, meta: dict, partitions: dict | None = None
) -> dict:
    """Append the next snapshot record to ``m`` and make it current;
    ``partitions`` defaults to the ones ``cur`` recorded. Returns ``m``."""
    sid = (m["current"] or 0) + 1
    m["snapshots"].append(
        {
            "id": sid,
            "datasets": datasets,
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "parent": m["current"],
            "meta": meta,
            "partitions": (
                dict(cur.get("partitions", {})) if partitions is None else partitions
            ),
        }
    )
    m["current"] = sid
    return m


def _record_keys(m: dict, keys: list[str]) -> None:
    """Record applied idempotency keys. Metadata growth is bounded: a
    retry can only replay the in-flight (most recent) epochs, so a
    sliding window of applied keys is sufficient — same reasoning as
    Iceberg's bounded snapshot-summary history."""
    applied = m.setdefault("applied_keys", []) + keys
    m["applied_keys"] = applied[-10_000:]


class CommitConflictError(RuntimeError):
    """Raised when a commit loses the metadata CAS more than
    ``max_retries`` times (Iceberg: CommitFailedException after
    commit.retry.num-retries)."""


class SnapshotTable:
    def __init__(self, root: str, max_retries: int = 20):
        self.root = root
        self.max_retries = max_retries
        os.makedirs(root, exist_ok=True)

    # -- versioned metadata -------------------------------------------------
    @property
    def _manifest_path(self) -> str:  # legacy (pre-r06) single-file layout
        return os.path.join(self.root, "_manifest.json")

    def _meta_path(self, version: int) -> str:
        return os.path.join(self.root, f"_meta-{version:06d}.json")

    def _latest_version(self) -> int:
        """Highest committed metadata version; 0 = none (legacy or empty)."""
        best = 0
        for name in os.listdir(self.root):
            if name.startswith("_meta-") and name.endswith(".json"):
                try:
                    best = max(best, int(name[6:-5]))
                except ValueError:
                    continue
        return best

    def _load(self) -> tuple[int, dict]:
        """``(version, metadata)`` from ONE directory listing: publishing
        ``version + 1`` then fails iff another writer published since."""
        v = self._latest_version()
        path = self._manifest_path if v == 0 else self._meta_path(v)
        if not os.path.exists(path):
            return v, {"current": None, "snapshots": []}
        with open(path) as f:
            return v, json.load(f)

    def _read_manifest(self) -> dict:
        return self._load()[1]

    def _try_publish(self, m: dict, version: int) -> bool:
        """Atomically claim metadata ``version`` with ``m`` — the CAS.
        The tmp file is complete and fsynced before the link, so the
        published name never exposes a torn file."""
        tmp = self._meta_path(version) + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, self._meta_path(version))  # fails iff already claimed
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def _cas(self, op: str, update: Callable[[dict, dict], dict | None]) -> dict:
        """The optimistic-commit loop every writer shares. Each attempt
        loads the latest ``(version, m)`` and calls ``update(m, cur)``
        with ``cur`` the current snapshot record. The rule either

        * returns the metadata to publish — ``m`` edited in place,
          usually by ``_next_snapshot`` — which is CAS-published as
          version+1; a lost race re-runs ``update`` on the winner's
          metadata (rebase), so it derives everything from ``(m, cur)``
          and the data dirs the writer wrote before the loop;
        * returns None — the call is a no-op, nothing is published;
        * raises — the race must abort rather than rebase.

        Returns the published (or, on a no-op, the loaded) metadata;
        raises CommitConflictError after ``max_retries`` lost races."""
        for _ in range(self.max_retries + 1):
            v, m = self._load()
            new = update(m, _current(m))
            if new is None:
                return m
            if self._try_publish(new, v + 1):
                return new
        raise CommitConflictError(
            f"{op} on {self.root} lost the metadata race "
            f"{self.max_retries + 1} times"
        )

    def _write(self, datasets: dict[str, tuple[DataFrame, list[str]]]) -> dict[str, str]:
        """Write each DataFrame (with its directory-partition columns)
        into a uuid-unique ``snap-<token>`` dir; racing writers never
        collide on paths. Returns dataset -> dir."""
        token = uuid.uuid4().hex[:8]
        paths: dict[str, str] = {}
        for name, (df, part_cols) in datasets.items():
            path = os.path.join(self.root, name, f"snap-{token}")
            w = df.write.mode("overwrite")
            if part_cols:
                w = w.partitionBy(*part_cols)
            w.parquet(path)
            paths[name] = path
        return paths

    # -- API ----------------------------------------------------------------
    def current_snapshot(self) -> int | None:
        return self._read_manifest()["current"]

    def snapshots(self) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._read_manifest()["snapshots"]]

    def commit(self, datasets: dict[str, DataFrame], meta: dict | None = None) -> int:
        """Write all datasets, then atomically publish the new snapshot."""
        return self.commit_partitioned(
            {n: (df, []) for n, df in datasets.items()}, meta=meta
        )

    def commit_partitioned(
        self,
        datasets: dict[str, tuple[DataFrame, list[str]]],
        meta: dict | None = None,
    ) -> int:
        """Like commit, but each dataset carries directory-partition
        columns (Iceberg identity-partition equivalent).

        Optimistic under concurrency: data files are written ONCE into
        uuid-unique dirs, then the metadata CAS loop retries on
        conflict — the loser rebases onto the winner's snapshot (its
        snapshot id and parent shift; its data is untouched). Raises
        CommitConflictError after ``max_retries`` lost races, leaving
        the table exactly as the winners published it (this commit's
        data dirs are unreferenced and never visible)."""
        paths = self._write(datasets)
        partitions = {n: list(pc) for n, (_, pc) in datasets.items() if pc}
        return self._cas(
            "commit",
            lambda m, cur: _next_snapshot(m, cur, paths, meta or {}, partitions),
        )["current"]

    def append(self, datasets: dict[str, DataFrame], meta: dict | None = None) -> int:
        """Append-commit (Iceberg *fast append*): write each DataFrame
        to a new uuid-unique dir, then publish a snapshot whose dataset
        points at the PREVIOUS dirs PLUS the new one. Unlike ``commit``
        (full replace — a checkpoint), append is what a per-micro-batch
        streaming sink does at 10^12-doc scale: existing data files are
        never rewritten, the snapshot just references one more dir.
        Losing the metadata CAS rebases cheaply — re-read the winner's
        dir list and re-append; data is written exactly once — which is
        precisely why Iceberg appends retry without revalidation while
        rewrites (``compact``) must abort on conflict. Datasets not
        named here are carried forward by reference."""
        paths = self._write({n: (df, []) for n, df in datasets.items()})

        def update(m: dict, cur: dict) -> dict:
            merged: dict[str, str | list[str]] = dict(cur["datasets"])
            for name, path in paths.items():
                merged[name] = _dirs(merged.get(name, [])) + [path]
            return _next_snapshot(m, cur, merged, {"operation": "append", **(meta or {})})

        return self._cas("append", update)["current"]

    def add_files(
        self,
        dataset: str,
        path: str,
        meta: dict | None = None,
        key: str | None = None,
    ) -> int:
        """Register an ALREADY-WRITTEN data dir as an append — Iceberg's
        ``add_files`` procedure. This is the zero-copy bridge from a
        ``foreachBatch`` sink: the micro-batch wrote its idempotent
        ``batch-<epoch>`` dir, the table publishes a snapshot referencing
        it, nothing is rewritten. IDEMPOTENT two ways: by path (a dir
        already referenced by the current snapshot is a no-op), and —
        when ``key`` is given — by an application key recorded in table
        metadata (Iceberg's idempotent-write / WAP summary-property
        trick). The key matters once maintenance runs: compaction folds
        the batch dir into a rewrite, so a crash-retried epoch would no
        longer find its PATH referenced and would double-register; its
        KEY (``epoch-<id>``) survives the fold, keeping the sink
        exactly-once through compact/expire cycles."""

        def update(m: dict, cur: dict) -> dict | None:
            if key is not None and f"{dataset}:{key}" in m.get("applied_keys", []):
                return None
            have = _dirs(cur["datasets"].get(dataset, []))
            if path in have:
                return None
            _record_keys(m, [] if key is None else [f"{dataset}:{key}"])
            return _next_snapshot(
                m, cur, {**cur["datasets"], dataset: have + [path]},
                {"operation": "add_files", "path": path, **(meta or {})},
            )

        return self._cas("add_files", update)["current"]

    def applied(self, dataset: str, key: str) -> bool:
        """Has an application key already been committed for a dataset?
        The exactly-once probe for sinks whose per-epoch work must not
        re-run at all (e.g. incremental dedup, where re-deduping an
        epoch against an index that already contains it would corrupt
        the pair set): a retried epoch checks this FIRST and skips."""
        return f"{dataset}:{key}" in self._read_manifest().get("applied_keys", [])

    def dataset_dirs(
        self, dataset: str, snapshot_id: int | None = None
    ) -> list[str]:
        """The data dirs a dataset resolves to at a snapshot — the
        baseline token for replace_dataset's conflict check."""
        s = self._resolve(snapshot_id)
        return _dirs(s["datasets"].get(dataset, []))

    def replace_dataset(
        self,
        dataset: str,
        df: DataFrame,
        meta: dict | None = None,
        expected_dirs: list[str] | None = None,
    ) -> int:
        """Publish a snapshot where ONE dataset's contents are replaced
        by ``df`` and every sibling dataset carries forward unchanged —
        the copy-on-write half of MERGE (io/merge.py). ``commit`` is a
        whole-table checkpoint (its snapshot lists only the committed
        datasets); a keyed upsert of one dimension table must not drop
        the table's other datasets, so this writes ``df`` once to a
        uuid-unique dir and CAS-publishes ``{**current, dataset: new}``
        (the add_files carry-forward pattern). Losing the race rebases
        onto the winner — but note the REBASE CAVEAT: the df was
        derived from the snapshot the caller read; if a racing writer
        changed the SAME dataset, rebasing would silently drop their
        change, so a same-dataset conflict raises instead (Iceberg's
        serializable-isolation validation). Pass ``expected_dirs`` —
        ``dataset_dirs()`` captured WHEN THE INPUT WAS READ — so the
        check covers the whole read-merge-write span, not just the
        write-publish gap (a racer landing between scan and write must
        conflict too, or its rows silently vanish)."""
        path = self._write({dataset: (df, [])})[dataset]
        if expected_dirs is not None:
            base_dirs = list(expected_dirs)
        else:
            base = _current(self._read_manifest())
            base_dirs = _dirs(base["datasets"].get(dataset, []))

        def update(m: dict, cur: dict) -> dict:
            if _dirs(cur["datasets"].get(dataset, [])) != base_dirs:
                raise CommitConflictError(
                    f"concurrent writer changed dataset {dataset!r} under "
                    "this merge — re-read and re-merge (serializable "
                    "isolation: rebasing would drop their rows)"
                )
            return _next_snapshot(
                m, cur, {**cur["datasets"], dataset: path},
                {"operation": "replace_dataset", **(meta or {})},
            )

        return self._cas("replace_dataset", update)["current"]

    def add_files_many(
        self,
        paths: dict[str, str],
        meta: dict | None = None,
        key: str | None = None,
    ) -> int:
        """``add_files`` for SEVERAL datasets in ONE atomic snapshot —
        what a sink needs when an epoch's outputs are only consistent
        together (incremental dedup publishes pairs + sigs + buckets:
        a reader must never see the index grown without its pairs, and
        a crash between per-dataset commits would tear them). Same
        double idempotency as ``add_files``: by path, and by ``key``
        recorded per dataset (all-or-nothing, since the publish is one
        CAS)."""

        def update(m: dict, cur: dict) -> dict | None:
            applied = m.get("applied_keys", [])
            keys = [] if key is None else [f"{ds}:{key}" for ds in paths]
            keys = [k for k in keys if k not in applied]
            if key is not None and not keys:
                return None
            merged: dict[str, str | list[str]] = dict(cur["datasets"])
            for ds, path in paths.items():
                have = _dirs(merged.get(ds, []))
                if path not in have:
                    merged[ds] = have + [path]
            if not keys and merged == cur["datasets"]:
                return None
            _record_keys(m, keys)
            return _next_snapshot(
                m, cur, merged,
                {"operation": "add_files", "paths": dict(paths), **(meta or {})},
            )

        return self._cas("add_files_many", update)["current"]

    # -- maintenance (Iceberg table-maintenance equivalents) -----------------
    def compact(
        self,
        spark: SparkSession,
        dataset: str,
        target_files: int = 8,
        expected_snapshot_id: int | None = None,
        sort_by: list[str] | None = None,
    ) -> int:
        """Rewrite ``dataset``'s current data files into ``target_files``
        files and publish the result as a NEW snapshot — Iceberg's
        ``rewrite_data_files`` maintenance action. Streaming ingest
        commits one snapshot per micro-batch, so a standing landing
        zone accumulates thousands of small files; compaction is what
        keeps scan task counts sane at 10^12-doc scale. Semantics match
        Iceberg exactly:

        * other datasets are carried forward BY REFERENCE (same dirs —
          snapshots share unchanged data files, like Iceberg manifests
          referencing unchanged files);
        * recorded directory-partition columns are preserved in the
          rewrite (partition pruning survives compaction);
        * time travel is untouched — the pre-compaction snapshot still
          scans until it is expired;
        * a concurrent writer that replaces ``dataset`` between the
          rewrite-read and the publish would be silently dropped by a
          blind commit, so the publish VALIDATES the dataset is still
          the one it compacted and aborts with CommitConflictError
          otherwise (Iceberg: rewrite validation failure) — the caller
          simply retries against the new snapshot; the aborted rewrite
          dir is removed.

        ``expected_snapshot_id`` pins the base (Iceberg
        ``validate-from-snapshot``); None compacts the current one.

        An append-grown dataset (list of dirs) collapses back to ONE
        dir — the small-files story: per-micro-batch appends accumulate,
        compaction folds them, expiry reclaims them. ``sort_by`` sorts
        the rewrite by the given columns with range partitioning
        (Iceberg's sort-strategy rewrite / Z-order-lite on one
        dimension): each output file then covers a disjoint key range,
        so parquet min/max row-group stats prune point/range scans on
        that key — the cheap substitute for a secondary index at
        10^12-doc scale.
        """
        base = self._resolve(expected_snapshot_id)
        if dataset not in base["datasets"]:
            raise ValueError(f"snapshot {base['id']} has no dataset {dataset!r}")
        src = base["datasets"][dataset]
        part_cols = base.get("partitions", {}).get(dataset, [])
        df = spark.read.parquet(*_dirs(src))
        if sort_by:
            df = df.repartitionByRange(max(1, target_files), *sort_by)
            df = df.sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(max(1, target_files))
        dst = self._write({dataset: (df, part_cols)})[dataset]

        def update(m: dict, cur: dict) -> dict:
            if cur["datasets"].get(dataset) != src:
                raise CommitConflictError(
                    f"compact of {dataset!r} in {self.root}: dataset was "
                    f"replaced concurrently (expected {src}); retry against "
                    "the new snapshot"
                )
            return _next_snapshot(
                m, cur, {**cur["datasets"], dataset: dst},
                {
                    "operation": "compact",
                    "dataset": dataset,
                    "source": src,
                    "target_files": target_files,
                    "sort_by": list(sort_by or []),
                },
            )

        try:
            return self._cas(f"compact of {dataset!r}", update)["current"]
        except CommitConflictError:
            shutil.rmtree(dst, ignore_errors=True)
            raise

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Drop all but the last ``keep_last`` snapshots from table
        metadata, then delete data dirs no retained snapshot references
        — Iceberg's ``expire_snapshots``. Order matters and matches
        Iceberg: metadata publishes FIRST (readers of the new version
        never see the expired ids), files are deleted after, so a crash
        between the two leaves harmless unreferenced dirs for
        ``remove_orphans`` rather than a live snapshot with missing
        data. Shared dirs (carried forward across commits/compactions)
        are reference-counted against the retained set. Scanning an
        expired snapshot id raises ValueError, exactly like Iceberg
        time travel past the expiry horizon. Returns expired ids."""
        keep_last = max(1, keep_last)
        expired: list[dict] = []

        def update(m: dict, cur: dict) -> dict | None:
            expired[:] = m["snapshots"][:-keep_last]
            if not expired:
                return None
            m["snapshots"] = m["snapshots"][-keep_last:]
            return m

        retained = self._cas("expire_snapshots", update)["snapshots"]
        for p in _referenced(expired) - _referenced(retained):
            shutil.rmtree(p, ignore_errors=True)
        return [s["id"] for s in expired]

    def remove_orphans(self, older_than_sec: float = 3600.0) -> list[str]:
        """Delete data dirs referenced by NO snapshot in current
        metadata — Iceberg's ``remove_orphan_files``. Orphans come from
        crashed commits (data written, CAS never reached — the
        documented atomicity story) and lost compactions. The age guard
        is load-bearing, same as Iceberg's ``older_than``: an in-flight
        writer's dirs are unreferenced until its publish, so only dirs
        older than ``older_than_sec`` are touched. Returns removed
        paths."""
        referenced = _referenced(self._read_manifest()["snapshots"])
        now = time.time()
        removed: list[str] = []
        for name in os.listdir(self.root):
            d = os.path.join(self.root, name)
            if name.startswith("_") or not os.path.isdir(d):
                continue
            for snap in os.listdir(d):
                p = os.path.join(d, snap)
                if not snap.startswith("snap-") or p in referenced:
                    continue
                if now - os.path.getmtime(p) >= older_than_sec:
                    shutil.rmtree(p, ignore_errors=True)
                    removed.append(p)
        return sorted(removed)

    def data_file_count(self, dataset: str) -> int:
        """Number of parquet data files the CURRENT snapshot references
        for ``dataset`` — the signal maintenance policies key on. Local
        glob here; on Iceberg this is a metadata-table read
        (``table.files``), never a storage listing."""
        s = self._resolve(None)
        if dataset not in s["datasets"]:
            return 0
        return sum(
            len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
            for d in _dirs(s["datasets"][dataset])
        )

    def maintain(
        self,
        spark: SparkSession,
        dataset: str,
        max_files: int = 64,
        target_files: int = 8,
        sort_by: list[str] | None = None,
        keep_last: int = 4,
        orphan_age_sec: float = 3600.0,
    ) -> dict:
        """One maintenance pass — the policy loop an Iceberg deployment
        schedules beside a streaming writer: compact ``dataset`` when
        its current file count exceeds ``max_files``, expire all but the
        last ``keep_last`` snapshots, sweep aged orphans. Safe to run
        concurrently with writers: compaction validates its base and a
        LOST race is reported (``compacted: "deferred"``) rather than
        raised — the next pass simply sees the writer's snapshot. Run it
        every N micro-batches (see streaming.ingest) or on a cron; each
        action is independently idempotent."""
        n_files = self.data_file_count(dataset)
        compacted: int | str | None = None
        if n_files > max_files:
            try:
                compacted = self.compact(
                    spark, dataset, target_files=target_files, sort_by=sort_by
                )
            except CommitConflictError:
                compacted = "deferred"  # a writer won; next pass retries
        expired = self.expire_snapshots(keep_last=keep_last)
        orphans = self.remove_orphans(older_than_sec=orphan_age_sec)
        return {
            "files_before": n_files,
            "compacted_snapshot": compacted,
            "expired": expired,
            "orphans_removed": orphans,
        }

    def _resolve(self, snapshot_id: int | None) -> dict:
        m = self._read_manifest()
        sid = snapshot_id if snapshot_id is not None else m["current"]
        if sid is None:
            raise ValueError(f"table {self.root} has no snapshot")
        for s in m["snapshots"]:
            if s["id"] == sid:
                return s
        raise ValueError(f"snapshot {sid} not found in {self.root}")

    def scan(
        self, spark: SparkSession, dataset: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """Snapshot-pinned read (S2): None → current snapshot. An
        append-grown dataset reads as the union of its dirs (one
        multi-path parquet scan — Spark lists them in parallel)."""
        s = self._resolve(snapshot_id)
        if dataset not in s["datasets"]:
            raise ValueError(f"snapshot {s['id']} has no dataset {dataset!r}")
        return spark.read.parquet(*_dirs(s["datasets"][dataset]))

    def meta(self, snapshot_id: int | None = None) -> dict:
        return self._resolve(snapshot_id)["meta"]


def resume_delta(
    docs: DataFrame, done_doc_ids: DataFrame, broadcast_max_ids: int = 5_000_000
) -> DataFrame:
    """J5: anti-join resume — docs not yet processed by the checkpoint.

    Size-adaptive like the CC strategy choice: a shuffle left-anti join
    repartitions the ENTIRE corpus (spans payload included) on doc_id
    just to drop finished rows, while a broadcast anti-join streams the
    corpus untouched. Done-id sets up to ``broadcast_max_ids`` (id
    strings only — tens of MB) broadcast; beyond that (a mostly-finished
    10^12-doc run) the shuffle join is the right plan and AQE handles
    skew. The count probe is cheap: checkpoint tables are parquet, so
    count() is metadata-only."""
    from pyspark.sql import functions as F

    done = done_doc_ids.select("doc_id").distinct()
    if broadcast_max_ids > 0 and done_doc_ids.count() <= broadcast_max_ids:
        done = F.broadcast(done)
    return docs.join(done, "doc_id", "left_anti")
