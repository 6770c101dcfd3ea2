#!/usr/bin/env python3
"""Benchmark of the checkpointed KG pipeline (``pie_spark.runner``).

    python3 perfbench/run.py --workload fresh|resume --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root. One closed-loop client (this process)
submits one ``run_checkpointed`` at a time to a ``local[4]`` session with
pinned settings (``SETTINGS``). Every run's committed triples are
checked against the generator's golden set by count and
order-independent digest; a run that raises or differs counts as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` first takes
the untraced median, then runs the pipeline once more layer by layer
from ``perfbench/layers.py`` with Spark's event log on, and prints the
per-layer metrics (see perfbench/README.md). The last stdout line is
the result object; per-run records go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import procstat

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ("fresh", "resume")
CORES = 4
BASE_DOCS, REPLICAS = 5000, 4  # 20,000 docs per seed
SMOKE_BASE_DOCS = 200
SETTINGS = {
    "master": f"local[{CORES}]",
    "spark.sql.shuffle.partitions": str(2 * CORES),
    "spark.driver.memory": "2g",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "4096",
    "buckets": 2 * CORES,  # doc_id buckets of the triple sink
}


T0 = time.perf_counter()


def log(record: dict) -> None:
    """One JSON record on stderr, stamped with seconds since start."""
    print(json.dumps({"at_s": time.perf_counter() - T0, **record}), file=sys.stderr, flush=True)


def corpus(seed: int, smoke: bool) -> tuple[str, dict]:
    """Materialize (or reuse) the seed's corpus; return its dir and info."""
    import corpus as cp

    base, reps = (SMOKE_BASE_DOCS, 1) if smoke else (BASE_DOCS, REPLICAS)
    path = os.path.join(BUILD, f"corpus-{seed}-{base}x{reps}")
    info_path = os.path.join(path, "info.json")
    if not os.path.exists(info_path):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        info = cp.build(tmp, seed, base, reps)
        with open(os.path.join(tmp, "info.json"), "w") as f:
            json.dump(info, f)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(info_path) as f:
        return path, json.load(f)


class Bench:
    def __init__(self, workload: str, work: str, corpus_dir: str, info: dict, trace: bool):
        self.workload = workload
        self.work = work
        self.corpus_dir = corpus_dir
        self.info = info
        self.trace = trace
        self.n_runs = 0
        self.spark = None
        self.gateway_proc = None

    # -- session ---------------------------------------------------------
    def start(self) -> None:
        from pyspark import SparkContext

        from pie_spark.fixtures.gen import entity_dict_df
        from pie_spark.session import build_session

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        extra = {
            "spark.driver.memory": SETTINGS["spark.driver.memory"],
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # JVM temp files under the work dir, and no hsperfdata file
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file://{log_dir}",
            })
        self.spark = build_session(
            app_name=f"perfbench-{self.workload}",
            master=SETTINGS["master"],
            shuffle_partitions=int(SETTINGS["spark.sql.shuffle.partitions"]),
            arrow_batch=int(SETTINGS["spark.sql.execution.arrow.maxRecordsPerBatch"]),
            extra=extra,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.gateway_proc = SparkContext._gateway.proc
        self.dict_df = entity_dict_df(self.spark)

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit: the gateway JVM ends on EOF of its stdin."""
        if self.spark is not None:
            self.spark.stop()
        proc = self.gateway_proc
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while procstat.descendants() and time.monotonic() < deadline:
            time.sleep(0.1)

    # -- one pipeline run ----------------------------------------------------
    def docs(self, name: str = "docs"):
        from pie_spark.schemas import DOC_SCHEMA

        return self.spark.read.schema(DOC_SCHEMA).parquet(os.path.join(self.corpus_dir, name))

    def config(self, run_dir: str, resume: bool):
        from pie_spark.config import PipelineConfig

        ckpt = self.checkpoint if resume else os.path.join(run_dir, "checkpoint")
        return PipelineConfig(
            checkpoint_dir=ckpt,
            output_path=os.path.join(run_dir, "output"),
            resume=resume,
            buckets=SETTINGS["buckets"],
        )

    @property
    def checkpoint(self) -> str:
        """Extract checkpoint over 90% of the docs, committed by the
        ``resume`` warm-up run; the measured runs resume from it."""
        return os.path.join(self.work, "warmup", "checkpoint")

    def pipeline(self, run_dir: str, docs_name: str, resume: bool) -> float:
        from pie_spark.runner import run_checkpointed

        t0 = time.perf_counter()
        out = run_checkpointed(
            self.spark, self.config(run_dir, resume), self.docs(docs_name), self.dict_df
        )
        wall = time.perf_counter() - t0
        out.result.unpersist()
        return wall

    def committed(self, run_dir: str) -> dict:
        """Fingerprint of the triples the run committed to its output."""
        import corpus as cp

        from pie_spark.io.snapshots import SnapshotTable

        table = SnapshotTable(os.path.join(run_dir, "output")).scan(self.spark, "triples")
        return cp.fingerprint(table.select("subj", "pred", "obj", "doc_id").toArrow())

    @property
    def warm_part(self) -> str:
        """The warm-up's docs: the checkpoint's 90% for ``resume``, the
        other 10% for ``fresh``."""
        return "docs90" if self.workload == "resume" else "docs10"

    def warm_up(self) -> None:
        """One untimed fresh run over ``warm_part``."""
        self.pipeline(os.path.join(self.work, "warmup"), self.warm_part, resume=False)

    def warm_up_ok(self) -> bool:
        got = self.committed(os.path.join(self.work, "warmup"))
        return got == self.info[self.warm_part]["golden"]

    def measured_run(self) -> dict:
        self.n_runs += 1
        run_dir = os.path.join(self.work, f"run-{self.n_runs}")
        rec = {"run": self.n_runs, "workload": self.workload}
        s0, c0 = procstat.cpu_counters(), procstat.tree_cpu_s()
        try:
            with procstat.PeakRss() as peak:
                rec["wall_s"] = self.pipeline(run_dir, "docs", self.workload == "resume")
            rec["cpu_s"] = procstat.tree_cpu_s() - c0
            rec["peak_rss_mb"] = peak.mb
            rec["steal_pct"] = procstat.steal_pct(s0, procstat.cpu_counters())
            got = self.committed(run_dir)
            rec["ok"] = got == self.info["docs"]["golden"]
            if not rec["ok"]:
                rec["triples"] = got
        except Exception:  # a failed run is counted, not fatal
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
        shutil.rmtree(run_dir, ignore_errors=True)
        log(rec)
        return rec

    def measure(self, seconds: float, smoke: bool) -> list[dict]:
        """Runs back to back until another run would end past ``seconds``
        (always at least one)."""
        runs = []
        t0 = time.perf_counter()
        while True:
            runs.append(self.measured_run())
            last = runs[-1].get("wall_s", 0.0)
            if smoke or time.perf_counter() - t0 + last > seconds:
                return runs

    def session_record(self) -> dict:
        import pyspark

        jvm = self.spark.sparkContext._jvm
        return {
            "settings": SETTINGS,
            "spark": pyspark.__version__,
            "java": jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "nproc": os.cpu_count(),
            "corpus": self.info,
        }


def end_to_end(docs: int, setup_s: float, runs: list[dict]) -> dict:
    ok = [r for r in runs if r["ok"]]
    med = lambda k: statistics.median(r[k] for r in ok)
    return {
        "docs_per_s": {"value": docs / med("wall_s"), "unit": "1/s"},
        "cpu_ms_per_doc": {"value": 1000 * med("cpu_s") / docs, "unit": "ms"},
        "setup_s": {"value": setup_s, "unit": "s"},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, one run: for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pie_spark")):
        print(f"perfbench: no pie_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )

    corpus_dir, info = corpus(args.seed, args.smoke)
    work = os.path.join(BUILD, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    bench = Bench(args.workload, work, corpus_dir, info, bool(args.trace))
    try:
        t0 = time.perf_counter()
        bench.start()
        bench.warm_up()
        setup_s = time.perf_counter() - t0
        warm_ok = bench.warm_up_ok()
        log({"session": bench.session_record(), "setup_s": setup_s, "warmup_ok": warm_ok})
        seconds = args.seconds / 2 if args.trace else args.seconds
        runs = bench.measure(seconds, args.smoke)
        correct = warm_ok and all(r["ok"] for r in runs)
        walls = [r["wall_s"] for r in runs if r["ok"]]
        if not walls:
            raise RuntimeError("perfbench: every measured run failed")
        log({"session_runs": len(runs), "walls": walls, "drift": walls[-1] / walls[0]})
        if args.trace:
            import layers

            with procstat.PeakRss() as peak:
                traced = layers.traced_run(bench)
            correct = correct and traced["ok"]
            log({"traced_ok": traced["ok"], "traced_wall_s": traced["wall_s"]})
        else:
            metrics = end_to_end(info["docs"]["docs"], setup_s, runs)
    finally:
        bench.stop()
        log({"stopped": True})
    if args.trace:
        import microbench

        metrics = layers.per_layer(
            traced, os.path.join(work, "eventlog"), statistics.median(walls)
        )
        metrics["trace.peak_rss_mb"] = {"value": peak.mb, "unit": "MB"}
        metrics.update(microbench.run(corpus_dir))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": len(runs),
        "failed": sum(not r["ok"] for r in runs),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
