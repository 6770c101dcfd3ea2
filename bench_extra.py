#!/usr/bin/env python
"""Per-query timing and plan capture for the declared driver queries.

NOT part of the frozen measurement surface — bench.py stays the
measurement protocol. Per-stage pipeline timings come from
``perfbench/run.py --trace 1``, which reads them from Spark's event log.

Usage:
  python bench_extra.py queries [name…] # headline queries: 3 runs each
  python bench_extra.py plans out_dir [name…]  # explain("formatted") dumps
"""

from __future__ import annotations

import json
import os
import sys
import time


def _mk(app: str):
    from pie_spark.session import build_session

    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sp = int(os.environ.get("PIE_BENCH_SHUFFLE", 2 * int(cores)))
    return build_session(app_name=app, master=f"local[{cores}]", shuffle_partitions=sp)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def queries(names: list[str]) -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import pie_spark.queries as Qmod
    from pie_spark.queries import QUERIES

    headline = names or [
        "span_explode", "email_extract", "surface_freq", "top1_candidate",
        "broadcast_dim_join", "nearest_prev_pair", "canonical_election",
        "triple_dedup", "cc_canonical_map", "regex_mentions", "redact_pii",
        "split_assign", "pack_chunks", "decontaminate", "minhash_neardups",
        "neardup_clusters", "training_manifest", "cc_incremental",
    ]
    spark = _mk("pie-bench-extra-queries")
    fn0 = QUERIES["span_explode"][0]
    _noop(fn0(spark, sf_dir))  # warmup
    res: dict[str, list[float]] = {}
    for name in headline:
        fn = QUERIES[name][0] if name in QUERIES else getattr(Qmod, f"q_{name}")
        spark.sparkContext.setJobDescription(f"query: {name}")
        runs = []
        for _ in range(3):
            # time construction + write, like bench.py's _time_query —
            # operators with eager internals (CC loops) run at build time
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        res[name] = runs
    spark.stop()
    print(json.dumps({"mins": {k: min(v) for k, v in res.items()}, "runs": res}))


def plans(out_dir: str, names: list[str]) -> None:
    import contextlib
    import io

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import pie_spark.queries as Qmod
    from pie_spark.queries import QUERIES

    os.makedirs(out_dir, exist_ok=True)
    spark = _mk("pie-bench-extra-plans")
    for name in names:
        fn = QUERIES[name][0] if name in QUERIES else getattr(Qmod, f"q_{name}")
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {out_dir}/{name}.txt")
    spark.stop()


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        queries(sys.argv[2:])
    elif cmd == "plans":
        plans(sys.argv[2], sys.argv[3:])
    else:
        raise SystemExit(f"unknown command {cmd}")
