#!/usr/bin/env python
"""Kill-and-resume drill for the prep runner THROUGH the mandated CLI
launch mode (VERDICT r03 next#6): ``spark-submit --py-files
dist/pie_spark.zip jobs/run_prep.py`` — not in-process pytest.

    python tools/prep_drill.py [--sf-dir /root/testdata/sf0.01] [--cores 8]

Sequence:
  1. rebuild dist/pie_spark.zip from the working tree;
  2. baseline: one uninterrupted spark-submit run → manifest A;
  3. drill: launch the same job against a FRESH checkpoint dir, watch
     the checkpoint until ≥2 stage snapshots are committed, then
     SIGKILL the whole spark-submit process group mid-flight;
  4. relaunch with the same checkpoint → manifest B; the runner must
     report resumed stages and B must be row-identical to A.

Prints ONE JSON line: {"resumed_stages": [...], "manifest_rows": N,
"row_identical": true, "killed_after_snapshots": K, ...} — recorded in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pie_spark.io.snapshots import SnapshotTable  # noqa: E402


def _spark_submit(cores: int, args: list[str], capture: bool) -> subprocess.Popen:
    cmd = [
        "spark-submit",
        "--master", f"local[{cores}]",
        "--conf", "spark.sql.shuffle.partitions=16",
        "--py-files", os.path.join(ROOT, "dist", "pie_spark.zip"),
        os.path.join(ROOT, "jobs", "run_prep.py"),
        *args,
    ]
    return subprocess.Popen(
        cmd,
        cwd=ROOT,
        stdout=subprocess.PIPE if capture else subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
        text=True,
        start_new_session=True,  # own process group → killable with children
    )


def _run(cores: int, args: list[str]) -> dict:
    p = _spark_submit(cores, args, capture=True)
    out, _ = p.communicate(timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"spark-submit failed rc={p.returncode}")
    return json.loads([ln for ln in out.splitlines() if ln.startswith("{")][-1])


def _n_snapshots(ckpt_dir: str) -> int:
    """Committed snapshot count of the checkpoint table. Published
    metadata is never torn (it is hard-linked into place only after
    write+fsync), so polling it while the job commits is safe."""
    if not os.path.isdir(ckpt_dir):  # job has not created it yet
        return 0
    return len(SnapshotTable(ckpt_dir).snapshots())


def _manifest_hash(path: str) -> tuple[int, str]:
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT * FROM read_parquet('{path}/*.parquet') ORDER BY ALL"
    ).fetchall()
    con.close()
    h = hashlib.md5(repr(rows).encode()).hexdigest()
    return len(rows), h


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cores", type=int, default=8)
    args = ap.parse_args()

    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "build_zip.py")],
                   check=True, capture_output=True)

    base = tempfile.mkdtemp(prefix="prep_drill_")
    corpus = os.path.join(args.sf_dir, "documents.parquet")
    common = ["--corpus", corpus, "--benchmark-mod", "20"]

    # baseline: uninterrupted
    out_a = os.path.join(base, "manifest_a")
    a = _run(args.cores, [*common, "--output", out_a,
                          "--checkpoint", os.path.join(base, "ck_a")])

    # drill: kill mid-flight once ≥2 stage snapshots landed
    ck = os.path.join(base, "ck_drill")
    out_b = os.path.join(base, "manifest_b")
    p = _spark_submit(args.cores, [*common, "--output", out_b, "--checkpoint", ck],
                      capture=False)
    killed_after = None
    t0 = time.time()
    while time.time() - t0 < 600:
        n = _n_snapshots(ck)
        if n >= 2:
            os.killpg(p.pid, signal.SIGKILL)
            killed_after = n
            break
        if p.poll() is not None:  # finished before we could kill — count it
            killed_after = _n_snapshots(ck)
            break
        time.sleep(0.25)
    p.wait()
    was_killed = p.returncode != 0

    # resume with the same checkpoint
    b = _run(args.cores, [*common, "--output", out_b, "--checkpoint", ck])

    rows_a, h_a = _manifest_hash(out_a)
    rows_b, h_b = _manifest_hash(out_b)
    print(json.dumps({
        "baseline_rows": rows_a,
        "killed_mid_flight": was_killed,
        "killed_after_snapshots": killed_after,
        "resumed_stages": b["resumed_stages"],
        "resumed_manifest_rows": rows_b,
        "row_identical": (rows_a, h_a) == (rows_b, h_b),
        "baseline_wall_sec": a["wall_sec"],
        "resume_wall_sec": b["wall_sec"],
    }))


if __name__ == "__main__":
    main()
