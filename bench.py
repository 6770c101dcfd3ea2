#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol; driver records BENCH_r{N}.json).

Runs the flagship KG-construction pipeline + headline operator queries
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], and prints ONE JSON line:

    {"metric": "...", "value": <sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "docs_per_sec": ..., ...}

Protocol: corpus synthesized once to a temp parquet (bench measures the
engine, not the generator); one warmup run discarded; N_RUNS measured
pipeline runs, median reported.

The corpus is the sf dir's documents table replicated deterministically
PIE_BENCH_MULT times (default 200 → 1M docs at sf0.1): each replica
gets a distinct doc_id and therefore a distinct generated document, so
the input is compute-bound rather than dominated by fixed per-stage
scheduling cost — the regime the 10^12-doc design point lives in.

Set PIE_BENCH_SCALING=1 to also measure N-vs-4N-core scaling efficiency
(default 4 vs 16 cores; see BENCH/BASELINE.md for why not 8 vs 32: this
box's 32 vCPUs are SMT/bandwidth-limited — a pure-Python probe tops out
at 2.9x from 8→32, so 8→32 cannot evidence software scaling). Slower;
used to fill BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

N_RUNS = 5           # minimum measured runs
MAX_RUNS = 10        # sampling cap while hunting clean windows
CLEAN_STEAL_PCT = 1.0  # a run is "clean" below this hypervisor-steal %
N_CLEAN = 3          # keep sampling until this many clean runs (or cap)
SCALING_RUNS = 3     # per parallelism level in the (slow) scaling mode
QUERY_RUNS = 3       # per headline query; reported number = min (r05 #4)
SCALING_CORES = (4, 16)


def _mk_session(cores: int, app: str):
    from pie_spark.session import build_session

    # PIE_BENCH_SHUFFLE scales shuffle partitions past the 2×cores
    # default for the big ladder rungs (25M docs wants ~256 so each
    # shuffle partition stays ~100 MB instead of spilling; see
    # tools/ladder.py + BENCH/BASELINE.md r06)
    sp = int(os.environ.get("PIE_BENCH_SHUFFLE", 2 * cores))
    return build_session(app_name=app, master=f"local[{cores}]", shuffle_partitions=sp)


def _materialize_corpus(spark, sf_dir: str, out_dir: str, mult: int = 1) -> int:
    from pie_spark.fixtures.gen import interleaved_docs

    docs = interleaved_docs(spark, sf_dir, mult=mult, parts=128 if mult > 1 else 0)
    docs.write.mode("overwrite").parquet(out_dir)
    return spark.read.parquet(out_dir).count()


def _run_pipeline(spark, docs_path: str) -> tuple[float, int]:
    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df
    from pie_spark.pipeline import run
    from pie_spark.schemas import DOC_SCHEMA

    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_path)
    t0 = time.perf_counter()
    res = run(spark, PipelineConfig(), docs, entity_dict_df(spark))
    n = res.triples.count()
    wall = time.perf_counter() - t0
    res.unpersist()
    return wall, n


def _time_query(fn, spark, sf_dir: str) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _cpu_stat() -> list[int]:
    """Aggregate /proc/stat cpu counters (user nice system idle iowait
    irq softirq steal ...) — hypervisor steal is field 8."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d)
    return 100.0 * d[7] / total if total and len(d) > 7 else 0.0


def bench_skew(spark, sf_dir: str) -> dict:
    """Dedup-family skew evidence (VERDICT r02 #7): plant a 10k-doc
    boilerplate cluster (7 variants → ~1.4k docs per near-identical
    group) on top of the organic documents table and show the
    max_bucket guard keeps minhash/simhash near-dup candidate
    generation bounded — with dropped-bucket transparency counts
    instead of a silent quadratic blowup."""
    from pyspark.sql import functions as F

    from pie_spark.dedup import minhash, simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    boiler = spark.range(10_000).select(
        (F.lit(1_000_000) + F.col("id")).alias("doc_id"),
        F.concat(
            F.lit(
                "standard terms of service boilerplate the user agrees to "
                "all conditions set forth by the provider clause "
            ),
            (F.col("id") % 7).cast("string"),
        ).alias("text"),
    )
    corpus = docs.unionByName(boiler).localCheckpoint(eager=True)

    t0 = time.perf_counter()
    sigs = minhash.signatures(corpus).localCheckpoint(eager=True)
    st = minhash.bucket_stats(sigs).collect()[0]
    mh_pairs = minhash.near_duplicates(corpus, threshold=0.5).count()
    mh_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    sh_pairs = simhash.near_duplicate_pairs(
        corpus, max_hamming=3, max_bucket=200
    ).count()
    sh_wall = time.perf_counter() - t0
    # organic count from the ACTUAL corpus dir — a non-default
    # SPARK_GRAFT_SF_DIR has a different documents table (ADVICE r03)
    n_total = corpus.count()
    corpus.unpersist()
    return {
        "docs_total": n_total,
        "docs_planted": 10_000,
        "minhash_wall_sec": round(mh_wall, 3),
        "minhash_pairs": mh_pairs,
        "minhash_buckets": st["n_buckets"],
        "minhash_dropped_buckets": st["n_dropped_buckets"],
        "minhash_docs_in_dropped": st["n_docs_in_dropped"],
        "simhash_wall_sec": round(sh_wall, 3),
        "simhash_pairs": sh_pairs,
    }


def bench_cc_skew(spark) -> dict:
    """G1 skew evidence ladder (VERDICT r03 #5 / r05 next#3): plant one
    hot component — a star of PIE_CC_STARS edges around a single hub —
    next to 1k small organic components, then run the distributed CC
    loop with and without hot-node salting (salt_k=8) at each
    magnitude. Labels must be identical after sibling stripping;
    whichever path wins, the numbers land in BENCH_r{N}.json under
    "cc_skew" so the crossover is evidence, not argument. The measured
    crossover (flat through 10^6, salting 1.9× at 10^7) sets
    adaptive_components' default hot_degree_min."""
    from pyspark.sql import functions as F

    from pie_spark.canon.cc import connected_components
    from pie_spark.canon.salting import salt_edges, strip_salted_nodes

    stars = [
        int(s)
        for s in os.environ.get(
            "PIE_CC_STARS", "100000,1000000,10000000"
        ).split(",")
    ]
    points = []
    for star in stars:
        leaves = spark.range(star).select(
            F.lit("hub").alias("src"),
            F.concat(F.lit("leaf:"), F.col("id").cast("string")).alias("dst"),
        )
        # 1k organic 5-node stars: members point at their group leader
        organic = spark.range(5_000).select(
            F.concat(F.lit("c:"), F.col("id").cast("string")).alias("src"),
            F.concat(
                F.lit("c:"), (F.col("id") - F.col("id") % 5).cast("string")
            ).alias("dst"),
        )
        edges = leaves.unionByName(organic).localCheckpoint(eager=True)

        stats_u: list[dict] = []
        t0 = time.perf_counter()
        labels_u = connected_components(edges, iter_stats=stats_u).localCheckpoint(
            eager=True
        )
        n_u = labels_u.count()
        wall_u = time.perf_counter() - t0

        stats_s: list[dict] = []
        t0 = time.perf_counter()
        labels_s = strip_salted_nodes(
            connected_components(salt_edges(edges, ["hub"], 8), iter_stats=stats_s)
        ).localCheckpoint(eager=True)
        n_s = labels_s.count()
        wall_s = time.perf_counter() - t0

        mismatch = (
            labels_u.exceptAll(labels_s).count()
            + labels_s.exceptAll(labels_u).count()
        )
        points.append(
            {
                "hot_star_edges": star,
                "unsalted_wall_sec": round(wall_u, 3),
                "unsalted_iters": stats_u,
                "salted_wall_sec": round(wall_s, 3),
                "salted_iters": stats_s,
                "labels": n_u,
                "labels_salted": n_s,
                "labels_mismatch": mismatch,
            }
        )
        labels_u.unpersist()
        labels_s.unpersist()
        edges.unpersist()
    return {"salt_k": 8, "points": points}


def bench_gazetteer_fallback(spark, docs_path: str) -> dict:
    """Broadcast automaton vs the dictionary-shard fallback on the SAME
    bench corpus (VERDICT r03 #8 scale evidence): the fallback must stay
    in the same cost class as the automaton path it replaces when the
    dictionary outgrows broadcast, and the hit counts must agree
    exactly. The automaton side runs the fused detector with CRF off,
    so its wall includes the regex pass."""
    from pyspark.sql import functions as F

    from pie_spark.extract.fused import fused_matches
    from pie_spark.extract.gazetteer_shard import gazetteer_shard_matches
    from pie_spark.extract.spans import explode_spans, text_spans
    from pie_spark.fixtures.gen import entity_dict_df
    from pie_spark.schemas import DOC_SCHEMA

    docs = spark.read.schema(DOC_SCHEMA).parquet(docs_path)
    txt = text_spans(explode_spans(docs))
    d = entity_dict_df(spark)
    surfaces = [r["surface"] for r in d.select("surface").distinct().collect()]

    t0 = time.perf_counter()
    n_ac = (
        fused_matches(txt, spark, surfaces, enable_crf=False)
        .filter(F.col("detector") == "gazetteer")
        .count()
    )
    ac_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_shard = gazetteer_shard_matches(txt, d, salt_parts=8).count()
    shard_wall = time.perf_counter() - t0
    return {
        "automaton_wall_sec": round(ac_wall, 3),
        "shard_wall_sec": round(shard_wall, 3),
        "hits_automaton": n_ac,
        "hits_shard": n_shard,
        "hits_equal": n_ac == n_shard,
    }


def bench_gazetteer_skew(spark) -> dict:
    """Adversarial hot-surface corpus for the dictionary-scale fallback
    (VERDICT r05 next#8): the 1M-doc bench corpus is statistically
    uniform, so shard salting never gets stressed. Here ONE dictionary
    surface makes up ~10% of all tokens (4 of 40 per doc), which
    concentrates every candidate in a single first-char shard —
    salt_parts=1 runs that cogroup as one straggler task; salt_parts=8
    must spread it. Hits must be exactly equal (salting is routing
    only)."""
    from pyspark.sql import functions as F

    from pie_spark.extract.gazetteer_shard import gazetteer_shard_matches
    from pie_spark.fixtures.gazetteer import dictionary_entries
    from pie_spark.fixtures.gen import entity_dict_df

    hot = sorted({e.surface for e in dictionary_entries()})[0]
    filler = (
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do "
        "eiusmod tempor incididunt ut labore et dolore magna aliqua"
    )  # 18 lowercase tokens — no dictionary first-char candidates
    n_docs = 250_000
    txt = (
        spark.range(n_docs)
        .select(
            F.col("id").cast("string").alias("doc_id"),
            F.lit(0).alias("span_idx"),
            F.lit(0).alias("offset"),
            F.concat(
                F.lit(f"{filler} {hot} {hot} {filler} {hot} {hot} doc "),
                F.col("id").cast("string"),
            ).alias("text"),
        )
        .repartition(64)
        .localCheckpoint(eager=True)
    )
    d = entity_dict_df(spark)

    t0 = time.perf_counter()
    n1 = gazetteer_shard_matches(txt, d, salt_parts=1).count()
    wall1 = time.perf_counter() - t0
    t0 = time.perf_counter()
    n8 = gazetteer_shard_matches(txt, d, salt_parts=8).count()
    wall8 = time.perf_counter() - t0
    txt.unpersist()
    return {
        "docs": n_docs,
        "hot_surface": hot,
        "unsalted_wall_sec": round(wall1, 3),
        "salted_wall_sec": round(wall8, 3),
        "hits_unsalted": n1,
        "hits_salted": n8,
        "hits_equal": n1 == n8,
    }


def bench_at(cores: int, sf_dir: str, docs_path: str, n_runs: int = SCALING_RUNS):
    spark = _mk_session(cores, f"pie-bench-{cores}")
    try:
        n_docs = spark.read.parquet(docs_path).count()
        _run_pipeline(spark, docs_path)  # warmup (JIT, codegen, Arrow init)
        walls = [_run_pipeline(spark, docs_path)[0] for _ in range(n_runs)]
        walls.sort()
        med = walls[len(walls) // 2]
        return {"wall_sec": med, "all_runs": [round(w, 2) for w in walls],
                "docs": n_docs, "docs_per_sec": n_docs / med}
    finally:
        spark.stop()


def ladder_point(docs_path: str) -> None:
    """ONE warm pipeline measurement over a pre-materialized corpus,
    meant to be invoked as a SUBPROCESS per run (VERDICT r04 next#7):
    back-to-back 5M-doc runs inside one JVM degrade 112→149 s from
    accumulated heap pressure — a measurement artifact, not a code
    regression — so each ladder run now gets its own process/JVM.
    Prints one JSON line. Driven by tools/ladder.py."""
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = _mk_session(cores, "pie-bench-ladder")
    _run_pipeline(spark, docs_path)  # warmup (JIT, codegen, Arrow init)
    s0 = _cpu_stat()
    wall, n = _run_pipeline(spark, docs_path)
    steal = _steal_pct(s0, _cpu_stat())
    spark.stop()
    print(json.dumps({"wall_sec": round(wall, 3),
                      "steal_pct": round(steal, 2), "triples": n}))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mult = int(os.environ.get("PIE_BENCH_MULT", "200"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    tmp = tempfile.mkdtemp(prefix="pie_bench_")
    docs_path = os.path.join(tmp, "interleaved_docs.parquet")
    try:
        spark = _mk_session(cores, "pie-bench-gen")
        n_docs = _materialize_corpus(spark, sf_dir, docs_path, mult=mult)
        spark.stop()

        # flagship pipeline FIRST, in its own fresh JVM: r02 ran 17
        # headline queries (incl. two localCheckpoint-heavy CC loops) in
        # the same JVM before the pipeline medians, so heap/GC pressure
        # from the prelude leaked into the number of record (the r01→r02
        # drift VERDICT flagged). Hypervisor steal% is sampled around
        # each run so rounds are comparable across the box's documented
        # steal band.
        # Steal-normalized protocol (VERDICT r04 next#3), with each
        # measured run in its OWN subprocess/JVM (the r04 next#7 insight
        # extended to the 1M medians: the first r05 measurement showed
        # sequential in-JVM runs DEGRADE — later runs were 25% slower at
        # near-zero steal while earlier runs were fast at 2% steal, i.e.
        # heap/JVM aging, not the hypervisor, dominated the in-session
        # spread; per-process runs make the remaining variance actually
        # BE steal). Sample until N_CLEAN runs land in a clean window
        # (steal < CLEAN_STEAL_PCT %), capped at MAX_RUNS. The HEADLINE
        # `value` is the clean-run median; the raw all-runs median is
        # reported alongside as `value_raw_median`.
        import subprocess

        timed = []
        while len(timed) < MAX_RUNS:
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__),
                 "--ladder-point", docs_path],
                capture_output=True, text=True,
                cwd=os.path.dirname(os.path.abspath(__file__)),
            )
            if res.returncode != 0 or not res.stdout.strip():
                raise RuntimeError(
                    f"ladder-point child failed (rc={res.returncode}); "
                    f"stderr tail: {res.stderr[-2000:]}"
                )
            r = json.loads(res.stdout.strip().splitlines()[-1])
            timed.append((r["wall_sec"], r["steal_pct"]))
            n_clean = sum(1 for _, s in timed if s < CLEAN_STEAL_PCT)
            if len(timed) >= N_RUNS and n_clean >= N_CLEAN:
                break
        timed.sort()
        walls = [w for w, _ in timed]
        raw_med = walls[len(walls) // 2]
        clean = sorted(w for w, s in timed if s < CLEAN_STEAL_PCT)
        # headline = clean median when enough clean runs exist; honest
        # fallback to the raw median (flagged) on an all-stolen session
        med = clean[len(clean) // 2] if len(clean) >= N_CLEAN else raw_med
        steal_runs = [round(s, 2) for _, s in timed]

        # headline operator queries in a separate session (one timed run
        # each) — their JVM state can no longer contaminate the pipeline
        from pie_spark.queries import QUERIES

        headline = [
            "span_explode", "email_extract", "surface_freq", "top1_candidate",
            "broadcast_dim_join", "nearest_prev_pair", "canonical_election",
            "triple_dedup", "cc_canonical_map",
            # r02 additions (superset — r01 keys keep their meaning)
            "regex_mentions", "redact_pii", "split_assign", "pack_chunks",
            "decontaminate", "minhash_neardups", "neardup_clusters",
            "training_manifest",
            # r06: delta canonicalization (CC(old ¾) + incremental merge
            # of the ¼ delta — times the standing-landing-zone path)
            "cc_incremental",
        ]
        import pie_spark.queries as Qmod

        spark = _mk_session(cores, "pie-bench-queries")
        _time_query(QUERIES["span_explode"][0], spark, sf_dir)  # JVM warmup, untimed
        # Per-query clean sampling (VERDICT r05 next#4): single timed
        # runs produced phantom cross-round swings (email_extract 0.36
        # → 1.44 s with the file untouched — session steal, not code).
        # Each query now runs QUERY_RUNS× with per-run steal; the
        # reported number is the MIN (steal and GC only ever ADD time,
        # so min is the best steal-free estimate a noisy session
        # yields), and runs+steal ship in queries_detail so rounds can
        # be compared on like readings.
        qtimes: dict[str, float] = {}
        qdetail: dict[str, dict] = {}
        for name in headline:
            # registry-folded operators (e.g. top1_candidate, folded to
            # fund pipeline_triples_all's driver slot) keep their
            # headline timing via the module-level query function
            fn = QUERIES[name][0] if name in QUERIES else getattr(Qmod, f"q_{name}")
            runs, steals = [], []
            for _ in range(QUERY_RUNS):
                s0 = _cpu_stat()
                runs.append(round(_time_query(fn, spark, sf_dir), 3))
                steals.append(round(_steal_pct(s0, _cpu_stat()), 2))
            qtimes[name] = min(runs)
            qdetail[name] = {"runs": runs, "steal_pct": steals}
        qtimes["pipeline"] = round(med, 3)
        skew = bench_skew(spark, sf_dir)
        cc_skew = bench_cc_skew(spark)
        gaz_fallback = bench_gazetteer_fallback(spark, docs_path)
        gaz_skew = bench_gazetteer_skew(spark)
        spark.stop()

        out = {
            "metric": "kg_pipeline_wall_sec",
            "value": round(med, 3),
            "unit": "sec",
            "queries": qtimes,
            "queries_detail": qdetail,
            "sf": float(sf),
            "docs": n_docs,
            "corpus_mult": mult,
            "docs_per_sec": round(n_docs / med, 1),
            "cores": cores,
            "runs": [round(w, 3) for w in walls],
            "steal_pct_runs": steal_runs,
            "clean_runs": [round(w, 3) for w in clean],
            "value_raw_median": round(raw_med, 3),
            "headline_is_clean_median": len(clean) >= N_CLEAN,
            "skew": skew,
            "cc_skew": cc_skew,
            "gazetteer_fallback": gaz_fallback,
            "gazetteer_skew": gaz_skew,
        }

        if os.environ.get("PIE_BENCH_SCALING") == "1":
            n, n4 = SCALING_CORES
            lo = bench_at(n, sf_dir, docs_path)
            hi = bench_at(n4, sf_dir, docs_path)
            eff = (hi["docs_per_sec"] / lo["docs_per_sec"]) / 4.0
            out["scaling"] = {
                f"docs_per_sec_{n}": round(lo["docs_per_sec"], 1),
                f"docs_per_sec_{n4}": round(hi["docs_per_sec"], 1),
                f"efficiency_{n}_to_{n4}": round(eff, 3),
                "runs_lo": lo["all_runs"],
                "runs_hi": hi["all_runs"],
            }

        print(json.dumps(out))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--ladder-point":
        ladder_point(sys.argv[2])
    else:
        main()
