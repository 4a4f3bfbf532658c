#!/usr/bin/env python
"""spark-submit entrypoint: distributed inverted-index build.

Cluster usage (the north-rule deployment shape):

    zip -r femto_spark.zip femto_spark
    spark-submit --py-files femto_spark.zip \\
        --num-executors $N --executor-cores 4 --executor-memory 8g \\
        scripts/femto_build.py \\
        --input  s3://corpus/pages/          \\
        --output s3://indexes/pages_v1/      \\
        --n-buckets 4096 --range-shift 22 --resume

Sandbox usage (BASELINE.md two-parallelism protocol):

    spark-submit --master local[8]  --py-files femto_spark.zip scripts/femto_build.py ...
    spark-submit --master local[32] --py-files femto_spark.zip scripts/femto_build.py ...

The master is taken from spark-submit; the script never overrides it.
Emits per-stage timings + the lineage manifest summary as JSON on stdout
(FEMTO's REPORT lines, dcx.hh:6148).
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser(description="femto_spark index build")
    ap.add_argument("--input", required=True, help="corpus parquet path / table")
    ap.add_argument("--output", required=True, help="index output directory")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--range-shift", type=int, default=22,
                    help="log2 docs per merge range-group (skew bound)")
    ap.add_argument("--shard-size", type=int, default=1 << 18)
    ap.add_argument("--n-partitions", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--lang", default=None, help="optional lang filter, e.g. en")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from femto_spark.index import build_index
    from femto_spark.session import start_session

    spark = start_session(
        SparkSession.builder.appName("femto_build")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.adaptive.enabled", "true")
    )
    corpus = spark.read.parquet(args.input)
    if args.lang:
        corpus = corpus.filter(corpus["lang"] == args.lang)

    report = build_index(
        spark,
        corpus,
        args.output,
        id_col=args.id_col,
        text_col=args.text_col,
        n_buckets=args.n_buckets,
        range_shift=args.range_shift,
        shard_size=args.shard_size,
        n_partitions=args.n_partitions,
        resume=args.resume,
    )
    manifest = spark.read.parquet(args.output + "/manifest")
    summary = manifest.groupBy().sum("n_postings", "posting_bytes").collect()[0]
    report["total_postings"] = int(summary[0] or 0)
    report["total_posting_bytes"] = int(summary[1] or 0)
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
