"""spark-submit entry point: sketch-powered ANALYZE of any parquet
table (ops/profile.py).

Usage:
    zip -r dist/marker_spark.zip marker_spark
    spark-submit --master local[8] --py-files dist/marker_spark.zip \\
        jobs/profile_table.py --input /path/table.parquet \\
        --output /tmp/profile [--columns a,b,c] [--top-k 5]

Writes one parquet row per profiled column (exact n_rows/nulls/min/
max/mean, HLL distinct estimate, Misra-Gries heavy hitters with exact
counts) and prints a one-line JSON report.  Only O(columns x k)
scalars reach the driver; see marker_spark/ops/profile.py for the
pass structure and BENCH/BASELINE.md for the honest single-box
measurement (a naive exact profile wins locally; the sketch shape
wins when value shuffles cross a network).
"""

from __future__ import annotations

import argparse
import json
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--columns", default=None, help="comma list; default: all atomic columns")
    ap.add_argument("--top-k", type=int, default=5)
    ap.add_argument("--mg-k", type=int, default=256)
    ap.add_argument("--hll-p", type=int, default=14)
    args = ap.parse_args(argv)
    if args.top_k < 1:
        ap.error("--top-k must be >= 1")
    if args.mg_k < 1:
        ap.error("--mg-k must be >= 1")
    if not 4 <= args.hll_p <= 18:  # HllSketch's range
        ap.error("--hll-p must be in [4, 18]")

    from pyspark.sql import SparkSession

    from marker_spark.cacheutil import release_all
    from marker_spark.obs import RowCounts
    from marker_spark.ops.profile import profile_table

    spark = (
        SparkSession.builder.appName("marker-spark-profile")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    t0 = time.monotonic()
    df = spark.read.parquet(args.input)
    cols = args.columns.split(",") if args.columns else None
    prof = profile_table(
        df, columns=cols, top_k=args.top_k, mg_k=args.mg_k, hll_p=args.hll_p
    )
    counts = RowCounts(spark)
    prof = counts.observe(prof, "columns_profiled", result_stage=True)
    prof.write.mode("overwrite").parquet(args.output)
    rows = counts["columns_profiled"]
    release_all()
    print(json.dumps({
        "input": args.input,
        "output": args.output,
        "columns_profiled": rows,
        "secs": round(time.monotonic() - t0, 2),
    }))


if __name__ == "__main__":
    main()
