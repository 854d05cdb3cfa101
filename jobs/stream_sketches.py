"""spark-submit streaming entry point: continuously ingest an events
stream into a time-bucketed SketchCache with checkpointed ageing.

Usage:
    spark-submit --py-files dist/marker_spark.zip jobs/stream_sketches.py \\
        --source /path/to/stream_dir --ckpt /tmp/cache_ckpt \\
        --duration 1800 --lifespan 5400 [--available-now]

The stream dir is a file source (parquet chunks appear over time); each
micro-batch is folded into per-bucket Bloom filters and the ageing +
idempotent save sequence runs on the stream clock — the reference's
writer daemon (markercache.cpp:203-242) as a Structured Streaming job.
"""

from __future__ import annotations

import argparse
import json


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True, help="stream input dir (parquet files)")
    ap.add_argument("--ckpt", required=True, help="cache checkpoint dir")
    ap.add_argument("--stream-ckpt", default=None, help="streaming engine checkpoint dir")
    ap.add_argument("--ts-col", default="ts")
    ap.add_argument("--marker-col", default="marker")
    ap.add_argument("--duration", type=int, default=1800)
    ap.add_argument("--lifespan", type=int, default=5400)
    ap.add_argument("--fp", type=float, default=0.001)
    ap.add_argument("--capacity", type=int, default=1_000_000)
    ap.add_argument("--available-now", action="store_true",
                    help="drain available input then stop (otherwise run until killed)")
    args = ap.parse_args(argv)

    from marker_spark.params import CacheParams

    try:
        params = CacheParams(
            duration=args.duration, lifespan=args.lifespan, fp=args.fp,
            total_capacity=args.capacity,
        )
        # solve the Bloom sizing before any session or stream exists:
        # bad --fp/--capacity would otherwise fail only inside the
        # first micro-batch
        params.bloom_params()
    except ValueError as e:
        ap.error(str(e))

    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("marker-spark-stream-sketches").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from marker_spark.cache.sketch_cache import SketchCache
    from marker_spark.streaming import stream_into_cache

    cache = SketchCache(params, ckpt_dir=args.ckpt)

    # the consumer normally starts before the producer: poll for the
    # first file instead of crashing on an empty landing directory
    import time as _time

    deadline = _time.time() + 300
    while True:
        try:
            schema = spark.read.parquet(args.source).schema
            break
        except Exception:
            if _time.time() > deadline:
                raise SystemExit(
                    f"no parquet files appeared in {args.source} within 300s; "
                    "start the producer or pass a non-empty directory"
                )
            _time.sleep(5)
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(args.source)
    q = stream_into_cache(
        stream, cache, ts_col=args.ts_col, marker_col=args.marker_col,
        checkpoint_dir=args.stream_ckpt or (args.ckpt + "/_stream"),
        trigger_available_now=args.available_now,
    )
    q.awaitTermination()
    cache.save()
    print(json.dumps({"buckets": cache.metrics()}))
    if owns_session:  # don't tear down a caller-owned session (tests)
        spark.stop()


if __name__ == "__main__":
    main()
