#!/usr/bin/env python
"""spark-submit entry point for the north-rule feature pipeline.

Cluster:
    python package.py
    spark-submit --master <cluster> --py-files dist/dagli_spark.zip \
        examples/northrule_job.py --scale bench --output /path/out \
        [--checkpoint /path/ckpt] [--time-buckets 16]

Local smoke (what tests/test_submit_job.py runs):
    spark-submit --master local[2] --py-files dist/dagli_spark.zip \
        examples/northrule_job.py --scale smoke --output /tmp/nr_out

The script only uses the package through the --py-files zip (plus the
SparkSession the launcher provides), exactly as a cluster run would.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", default="smoke")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--time-buckets", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("northrule-job").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from dagli_spark.fixtures import materialize
    from dagli_spark.northrule import leakage_audit, run
    from dagli_spark.checkpoint import checkpointed_northrule
    from dagli_spark.sources.readers import parquet_reader

    paths = materialize(spark, args.scale)
    opts = {}
    if args.time_buckets:
        from pyspark.sql import functions as F

        opts = {"time_buckets": args.time_buckets,
                "bucket_width": F.lit(6 * 3600 * 1_000_000)}
    if args.checkpoint:
        out = checkpointed_northrule(spark, paths, args.checkpoint, **opts)
    else:
        out = run(spark, paths, **opts)
    out.write.mode("overwrite").parquet(args.output)

    try:
        audit = leakage_audit(parquet_reader(spark, args.output))
    except AssertionError as e:
        # emit the machine-readable verdict even on violation (the audit
        # raises; without this the job would die with a bare traceback)
        print(json.dumps({"output": args.output, "violations": -1,
                          "error": str(e)}))
        return 1
    print(json.dumps({"output": args.output, **audit}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
