#!/usr/bin/env python
"""Cluster entrypoint (SURVEY.md §3.3; BASELINE.json:6,14 — "runs
end-to-end via spark-submit --py-files on multi-executor clusters").

    spark-submit --master <url> --py-files dist/pie_spark.zip \
        jobs/run_pipeline.py \
        --input /root/testdata/sf0.001 --output /tmp/pie_out \
        --checkpoint /tmp/pie_ckpt [--resume] [--buckets 64] [--hot-k 100]

``--input`` is either a directory containing documents.parquet (the
fixture layout — corpus synthesized on the fly) or a parquet path of an
already-materialized interleaved-docs table (``--input-format docs``).
The master is taken from spark-submit; no master is hardcoded here.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--input-format", choices=["fixtures", "docs"], default="fixtures")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint", default="")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--hot-k", type=int, default=100)
    p.add_argument("--salt-k", type=int, default=8)
    p.add_argument("--no-crf", action="store_true")
    p.add_argument("--dict-max-surfaces", type=int, default=5_000_000,
                   help="broadcast cap; a bigger dictionary switches to the "
                        "dictionary-scale gazetteer + salted J1/J4 joins "
                        "(dict_mode recorded in lineage)")
    args = p.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("pie_spark-run")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.runner import run_checkpointed
    from pie_spark.schemas import DOC_SCHEMA

    cfg = PipelineConfig(
        output_path=args.output,
        checkpoint_dir=args.checkpoint,
        resume=args.resume,
        buckets=args.buckets,
        hot_k=args.hot_k,
        salt_k=args.salt_k,
        enable_crf=not args.no_crf,
        dict_max_surfaces=args.dict_max_surfaces,
    )
    if args.input_format == "fixtures":
        docs = interleaved_docs(spark, args.input)
        input_snapshot = f"fixtures:{args.input}"
    else:
        docs = spark.read.schema(DOC_SCHEMA).parquet(args.input)
        input_snapshot = f"parquet:{args.input}"

    t0 = time.perf_counter()
    out = run_checkpointed(spark, cfg, docs, entity_dict_df(spark), input_snapshot)
    n = out.result.triples.count()
    wall = time.perf_counter() - t0
    print(
        json.dumps(
            {
                "run_id": out.run_id,
                "triples": n,
                "wall_sec": round(wall, 3),
                "extract_snapshot": out.extract_snapshot,
                "output_snapshot": out.output_snapshot,
                "resumed_docs": out.resumed_docs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
