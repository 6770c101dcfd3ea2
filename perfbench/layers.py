"""Traced run: the pipeline composed layer by layer from the benchmark.

``traced_run`` calls each layer's public function in the order
``pie_spark.runner.run_checkpointed`` does, materializes the layer's
output (persist + count) so its Spark jobs finish inside the layer, and
tags those jobs with the Spark job description ``perfbench:<layer>``.
Around each call it reads the process tree's CPU (JVM + Python workers,
which the JVM task metrics do not see) and the wall clock. After the
session stops, ``per_layer`` reads Spark's uncompressed event log and
attributes task GC, shuffle, spill and task-time skew to the layers by
job description. The traced run's triples must match the golden set, so
a composition that drifts from the runner fails the run.

Counter queries the layers do not run themselves (person mentions,
spans with a hit) run under ``perfbench:counters``; their cost is part
of the tracing overhead and of the reported unattributed CPU, never of
a layer. The spans the fused detector ships to Python are not counted
by a query of the benchmark's own but read from the event log: the
"number of output rows" of the plan's ``ArrowEvalPython`` node, so they
follow whatever gate ``fused_matches`` applies.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

import procstat

PREFIX = "perfbench:"
PHASE = "perfbench.phase"

# layers that run Spark jobs, in pipeline order; PROBES are off the
# path of both workloads and are timed after the traced run
PROBES = ("extract.gazetteer_shard", "link.stats")
SPARK_LAYERS = (
    "extract.spans", "extract.fused", "extract.gazetteer_shard", "extract.merge",
    "io.snapshots", "link.stats", "link.linker", "canon", "graph.triples", "io.sinks",
)
SPARK_METRICS = {
    "wall_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_mb": "MB",
    "spill_mb": "MB", "task_skew": "ratio", "rows_out": "count",
}


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / 2**20


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.layers = {name: {"wall_s": 0.0, "cpu_s": 0.0, "rows_out": 0} for name in SPARK_LAYERS}

    @contextmanager
    def layer(self, name: str):
        rec = self.layers[name]
        self.sc.setJobDescription(PREFIX + name)
        c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] += time.perf_counter() - t0
            rec["cpu_s"] += procstat.tree_cpu_s() - c0
            self.sc.setJobDescription(None)

    def keep(self, rec: dict, df):
        """Materialize a layer output inside its layer; count its rows."""
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.last_count = df.count()
        rec["rows_out"] += self.last_count
        return df

    def count(self, df) -> int:
        self.sc.setJobDescription(PREFIX + "counters")
        try:
            return df.count()
        finally:
            self.sc.setJobDescription(None)


def traced_run(bench) -> dict:
    """One layer-by-layer pipeline run of ``bench.workload``; returns the
    wall/CPU/row records, counters and the committed-triples check."""
    from pie_spark.canon.canonical import key_canonical_map
    from pie_spark.canon.cc import adaptive_components
    from pie_spark.canon.edges import build_edges
    from pie_spark.extract.fused import fused_matches
    from pie_spark.extract.gazetteer_shard import gazetteer_shard_matches
    from pie_spark.extract.merge import merge_mentions
    from pie_spark.extract.spans import explode_spans, media_refs, text_spans
    from pie_spark.graph.triples import _with_canon, all_triples
    from pie_spark.io.lineage import new_run_id, stage_lineage
    from pie_spark.io.sinks import write_triples
    from pie_spark.io.snapshots import SnapshotTable, resume_delta
    from pie_spark.link.linker import link_mentions
    from pie_spark.link.stats import hot_keys, surface_frequencies
    from pie_spark.pipeline import try_collect_surfaces

    spark, dict_df = bench.spark, bench.dict_df
    resume = bench.workload == "resume"
    run_dir = os.path.join(bench.work, "traced")
    cfg = bench.config(run_dir, resume)
    docs = bench.docs()
    ckpt = SnapshotTable(cfg.checkpoint_dir)
    tr = Tracer(spark)
    run_id = new_run_id()
    counters: dict = {}

    spark.sparkContext.setLocalProperty(PHASE, "trace")
    c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
    todo = docs
    if resume:
        with tr.layer("io.snapshots") as rec:
            done_docs = ckpt.scan(spark, "docs_done")
            done_mentions = ckpt.scan(spark, "mentions")
            todo = tr.keep(rec, resume_delta(docs, done_docs))
    with tr.layer("extract.spans") as rec:
        txt = tr.keep(rec, text_spans(explode_spans(todo)))
        med = tr.keep(rec, media_refs(docs))
    with tr.layer("extract.fused") as rec:
        surfaces = try_collect_surfaces(dict_df, cfg.dict_max_surfaces)
        fused = tr.keep(rec, fused_matches(
            txt, spark, surfaces, enable_phone=cfg.enable_phone, enable_crf=cfg.enable_crf
        ))
    counters["spans_hit"] = tr.count(fused.select("doc_id", "span_idx").distinct())
    with tr.layer("extract.merge") as rec:
        merged = tr.keep(rec, merge_mentions(fused))
    counters["raw_mentions"] = tr.layers["extract.fused"]["rows_out"]
    counters["merged_mentions"] = tr.layers["extract.merge"]["rows_out"]
    t_extract = time.perf_counter()
    with tr.layer("io.snapshots") as rec:
        if resume:
            merged = tr.keep(rec, done_mentions.unionByName(merged))
            extract_sid = ckpt.current_snapshot()
        else:
            extract_sid = ckpt.commit(
                {"mentions": merged, "docs_done": docs.select("doc_id")},
                meta={"stage": "extract", "run_id": run_id, "input_snapshot": "",
                      "dict_mode": "broadcast"},
            )
            rec["rows_out"] += counters["merged_mentions"] + bench.info["docs"]["docs"]
    extract_ms = int((t_extract - t0) * 1000)
    counters["persons"] = tr.count(merged.filter(F.col("mention_type") == "PERSON"))
    with tr.layer("link.linker") as rec:
        linked = tr.keep(rec, link_mentions(merged, dict_df))
    with tr.layer("canon") as rec:
        labels = adaptive_components(
            spark, build_edges(dict_df), salt_k=cfg.salt_k,
            max_iters=cfg.cc_max_iters, driver_max_edges=cfg.cc_driver_max_edges,
        )
        key_map = tr.keep(rec, key_canonical_map(labels))
    with tr.layer("graph.triples") as rec:
        linked_canon = tr.keep(rec, _with_canon(linked, key_map))
        triples = tr.keep(rec, all_triples(med, linked_canon, merged, cfg.pii_types))
        n_triples = tr.last_count
    with tr.layer("io.sinks") as rec:
        wall_ms = int((time.perf_counter() - t0) * 1000)
        lineage = stage_lineage(
            merged, run_id, "extract", "", extract_ms, mention_count=True
        ).unionByName(
            stage_lineage(triples, run_id, "materialize", "", wall_ms, triple_count=True)
        )
        write_triples(
            SnapshotTable(cfg.output_path), triples, lineage, cfg.buckets,
            meta={"run_id": run_id, "input_snapshot": "",
                  "extract_snapshot": extract_sid, "dict_mode": "broadcast"},
        )
        rec["rows_out"] += n_triples
    total_wall = time.perf_counter() - t0
    total_cpu = procstat.tree_cpu_s() - c0

    # the oversized-dictionary layers, probed on the same spans and
    # mentions outside the traced total and the coverage figures
    spark.sparkContext.setLocalProperty(PHASE, "probe")
    with tr.layer("extract.gazetteer_shard") as rec:
        tr.keep(rec, gazetteer_shard_matches(txt, dict_df, salt_parts=cfg.shard_salt_parts))
    with tr.layer("link.stats") as rec:
        rec["rows_out"] += len(hot_keys(surface_frequencies(merged), cfg.hot_k))
    spark.sparkContext.setLocalProperty(PHASE, None)

    counters["write_mb"] = {
        "io.snapshots": 0.0 if resume else _dir_mb(cfg.checkpoint_dir),
        "io.sinks": _dir_mb(cfg.output_path),
    }
    ok = bench.committed(run_dir) == bench.info["docs"]["golden"]
    spark.catalog.clearCache()
    return {"layers": tr.layers, "counters": counters, "ok": ok,
            "wall_s": total_wall, "cpu_s": total_cpu}


def _event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            events.extend(json.loads(line) for line in f)
    return events


def _python_rows_ids(events: list[dict]) -> set[int]:
    """Accumulator ids of the "number of output rows" metric of every
    ``ArrowEvalPython`` plan node: the rows a pandas UDF received."""
    ids, todo = set(), [ev["sparkPlanInfo"] for ev in events if "sparkPlanInfo" in ev]
    while todo:
        node = todo.pop()
        todo.extend(node.get("children", ()))
        if node["nodeName"] == "ArrowEvalPython":
            ids.update(m["accumulatorId"] for m in node["metrics"]
                       if m["name"] == "number of output rows")
    return ids


def task_metrics(log_dir: str) -> dict:
    """Per layer (job description), from the event log: task CPU, GC,
    shuffle bytes written, disk spill, rows sent to pandas UDFs, and
    max/median task run time of the layer's busiest stage. Only jobs of
    the trace/probe phases."""
    events = _event_log(log_dir)
    python_rows = _python_rows_ids(events)
    stage_layer: dict[int, tuple[str, str]] = {}
    per: dict[str, dict] = {}
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            phase = props.get(PHASE)
            if phase is None:
                continue
            desc = props.get("spark.job.description") or ""
            name = desc[len(PREFIX):] if desc.startswith(PREFIX) else "(untagged)"
            for sid in ev["Stage IDs"]:
                stage_layer.setdefault(sid, (phase, name))
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_layer:
            m = ev.get("Task Metrics")
            if not m:
                continue
            phase, name = stage_layer[ev["Stage ID"]]
            rec = per.setdefault(name, {"phase": phase, "task_cpu_s": 0.0, "gc_s": 0.0,
                                        "shuffle_mb": 0.0, "spill_mb": 0.0,
                                        "python_rows": 0, "stages": {}})
            rec["task_cpu_s"] += m["Executor CPU Time"] / 1e9
            rec["gc_s"] += m["JVM GC Time"] / 1e3
            rec["shuffle_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 2**20
            rec["spill_mb"] += m["Disk Bytes Spilled"] / 2**20
            rec["python_rows"] += sum(int(a["Update"]) for a in ev["Task Info"]["Accumulables"]
                                      if a["ID"] in python_rows)
            rec["stages"].setdefault(ev["Stage ID"], []).append(m["Executor Run Time"])
    for rec in per.values():
        busiest = max(rec.pop("stages").values(), key=sum)
        med = statistics.median(busiest)
        rec["task_skew"] = max(busiest) / med if med > 0 else 1.0
    return per


def per_layer(traced: dict, log_dir: str, untraced_wall_s: float) -> dict:
    tasks = task_metrics(log_dir)
    out: dict = {}
    for name, rec in traced["layers"].items():
        t = tasks.get(name, {})
        vals = {
            "wall_s": rec["wall_s"], "cpu_s": rec["cpu_s"], "rows_out": rec["rows_out"],
            "gc_s": t.get("gc_s", 0.0), "shuffle_mb": t.get("shuffle_mb", 0.0),
            "spill_mb": t.get("spill_mb", 0.0), "task_skew": t.get("task_skew", 0.0),
        }
        for k, unit in SPARK_METRICS.items():
            out[f"{name}.{k}"] = {"value": vals[k], "unit": unit}
    c = traced["counters"]
    spans_in = tasks["extract.fused"]["python_rows"]
    fused_cpu = traced["layers"]["extract.fused"]["cpu_s"]
    on_path = [n for n, t in tasks.items() if t["phase"] == "trace"]
    layer_cpu = sum(r["cpu_s"] for n, r in traced["layers"].items() if n not in PROBES)
    extra = {
        "extract.fused.spans_in": (spans_in, "count"),
        "extract.fused.hit_ratio": (c["spans_hit"] / max(spans_in, 1), "ratio"),
        "extract.fused.us_per_span": (1e6 * fused_cpu / max(spans_in, 1), "us"),
        "extract.merge.keep_ratio": (c["merged_mentions"] / max(c["raw_mentions"], 1), "ratio"),
        "link.linker.link_ratio": (
            traced["layers"]["link.linker"]["rows_out"] / max(c["persons"], 1), "ratio"),
        "io.snapshots.write_mb": (c["write_mb"]["io.snapshots"], "MB"),
        "io.sinks.write_mb": (c["write_mb"]["io.sinks"], "MB"),
        "trace.wall_s": (traced["wall_s"], "s"),
        "trace.overhead_s": (traced["wall_s"] - untraced_wall_s, "s"),
        "trace.cpu_s": (traced["cpu_s"], "s"),
        "trace.unattributed_cpu_s": (traced["cpu_s"] - layer_cpu, "s"),
        "trace.task_cpu_s": (sum(tasks[n]["task_cpu_s"] for n in on_path), "s"),
        "trace.unattributed_task_cpu_s": (
            sum(tasks[n]["task_cpu_s"] for n in on_path
                if n not in SPARK_LAYERS), "s"),
    }
    out.update({k: {"value": v, "unit": u} for k, (v, u) in extra.items()})
    return out
