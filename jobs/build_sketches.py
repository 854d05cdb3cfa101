"""spark-submit entry point: build the per-source sketch table from a
tokenized-sequence table (north_star launch contract).

Usage:
    zip -r dist/marker_spark.zip marker_spark
    spark-submit --master local[8] --py-files dist/marker_spark.zip \\
        jobs/build_sketches.py --input /path/tokseq.parquet \\
        --output /tmp/sketch_table --fp 0.001 --ngram 3

Reads (doc_id, tokens, n_tok, source), sizes each group's Bloom from a
stats pass, builds Bloom+HLL partials Arrow-natively with proportional
salting, merges, writes the sketch table + a lineage/metrics JSONL
(one record per partition/bucket: rows, bytes, timings).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--fp", type=float, default=0.001)
    ap.add_argument("--ngram", type=int, default=3)
    ap.add_argument("--group-col", default="source")
    ap.add_argument("--metrics", default=None, help="lineage/metrics JSONL path")
    ap.add_argument(
        "--ckpt",
        default=None,
        help="per-partition checkpoint dir: completed partitions replay "
        "from disk on re-run (kill/restart resumability)",
    )
    ap.add_argument(
        "--merge-into",
        default=None,
        help="existing sketch table: its rows join the new partials as "
        "extra partial states (associative merge), producing an "
        "incrementally-updated table at --output — the daily-increment "
        "production flow, no rebuild of history",
    )
    args = ap.parse_args(argv)
    if args.ngram < 1:
        ap.error(f"--ngram must be >= 1, got {args.ngram}")
    from marker_spark.params import BloomParams

    try:
        # a bad --fp would otherwise fail only inside bloom_factory in a task
        BloomParams.solve(10_000, args.fp)
    except ValueError as e:
        ap.error(f"--fp: {e}")
    if args.ckpt:
        # checkpoints are keyed by partition id only; guard against
        # silently replaying partials built from a DIFFERENT input or
        # parameter set into this run's output
        import hashlib as _hashlib
        import json as _json
        import os as _os

        cfg = {
            k: v for k, v in sorted(vars(args).items())
            if k not in ("output", "merge_into", "metrics")
        }
        cfg["input"] = _os.path.abspath(args.input)
        cfg_path = _os.path.join(args.ckpt, "ckpt_config.json")
        if _os.path.exists(cfg_path):
            with open(cfg_path) as f:
                prev = _json.load(f)
            if prev != cfg:
                raise SystemExit(
                    f"--ckpt {args.ckpt} holds partials for different "
                    f"parameters/input:\n  saved: {prev}\n  now:   {cfg}\n"
                    "use a fresh checkpoint dir"
                )
        else:
            _os.makedirs(args.ckpt, exist_ok=True)
            with open(cfg_path, "w") as f:
                _json.dump(cfg, f)
    if args.merge_into:
        import os as _os

        if _os.path.abspath(args.merge_into) == _os.path.abspath(args.output):
            raise SystemExit(
                "--output must differ from --merge-into: the previous table is "
                "read lazily while the output overwrites it (write to a new "
                "path, then swap/rename atomically)"
            )

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("marker-spark-build-sketches").getOrCreate()

    from marker_spark.agg import (
        SKETCH_COL,
        _grouped_update,
        build_partials_arrow,
        merge_partials,
        salted_repartition,
    )
    from marker_spark.kernels import bloom_factory, bloom_ngram_updater
    from marker_spark.sketches.bloom import BloomSketch

    t_start = time.time()
    df = spark.read.parquet(args.input)
    n = args.ngram
    gcol = args.group_col

    from marker_spark.agg import NULL_KEY

    stats = {
        (NULL_KEY if r[gcol] is None else r[gcol]): int(r["ngrams"])
        for r in df.groupBy(gcol)
        .agg(F.sum(F.greatest(F.col("n_tok") - (n - 1), F.lit(0))).alias("ngrams"))
        .collect()
    }
    total = max(sum(stats.values()), 1)
    fp = args.fp

    # Incremental mode: Bloom OR-merge requires identical (m, k), so
    # existing groups must keep the PREVIOUS table's sizing.  Extract
    # (group, m, k) executor-side (only scalars reach the driver).
    prev_mk: dict[str, tuple[int, int]] = {}
    if args.merge_into:
        import pyarrow as pa

        from marker_spark.agg import state_prefix
        from marker_spark.sketches.bloom import PREFIX_BYTES

        def _params_fn(batches):
            # (m, k) sit in each state's header: inflate only that
            for batch in batches:
                shapes = [
                    BloomSketch.shape_from_bytes(state_prefix(buf.as_buffer(), PREFIX_BYTES))
                    for buf in batch.column(1)
                ]
                m, k = zip(*shapes) if shapes else ((), ())
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), pa.array(m, pa.int64()), pa.array(k, pa.int32())],
                    names=["g", "m", "k"],
                )

        # read once: one footer job, and a table missing either column
        # fails here, before any build
        prev = spark.read.parquet(args.merge_into).select(gcol, SKETCH_COL)
        prev_mk = {
            r["g"]: (int(r["m"]), int(r["k"]))
            for r in prev.toDF("g", "s")
            .mapInArrow(_params_fn, schema="g string, m long, k int")
            .collect()
        }

    def factory(key=None):
        g = key[0] if key else None
        if g in prev_mk:
            m, k = prev_mk[g]
            return BloomSketch(m, k)
        cap = max(int(stats.get(g, total) * 1.2), 10_000)
        return bloom_factory(capacity=cap, fp=fp)()

    parallelism = spark.sparkContext.defaultParallelism
    shares = {g: c / total for g, c in stats.items()}
    salted = salted_repartition(df, gcol, shares, parallelism=parallelism)
    partials = build_partials_arrow(
        salted,
        _grouped_update(factory, bloom_ngram_updater(n), [gcol]),
        [gcol],
        ckpt_dir=args.ckpt,
    )
    if args.merge_into:
        # merge associativity makes yesterday's merged states just more
        # partials; groups new to either side pass through the merge
        partials = partials.select(gcol, SKETCH_COL).unionByName(prev)
    merged = merge_partials(partials, BloomSketch, [gcol])
    merged.write.mode("overwrite").parquet(args.output)

    meta = (
        # the schema the job just wrote: no schema-inference job
        spark.read.schema(f"`{gcol}` string, {SKETCH_COL} binary")
        .parquet(args.output)
        .select(gcol, F.length(SKETCH_COL).alias("sketch_bytes"))
        .collect()
    )
    records = [
        {
            "group": r[gcol],
            "sketch_bytes": r["sketch_bytes"],
            "ngrams": stats.get(r[gcol], 0),
            "fp_configured": fp,
            "input": args.input,
            "wall_secs": round(time.time() - t_start, 2),
        }
        for r in meta
    ]
    metrics_path = args.metrics or os.path.join(args.output, "_metrics.jsonl")
    with open(metrics_path, "w") as f:
        for rec in records:
            f.write(json.dumps(rec) + "\n")
    print(json.dumps({"groups": len(records), "output": args.output, "secs": round(time.time() - t_start, 2)}))
    if owns_session:  # don't tear down a caller-owned session (tests)
        spark.stop()


if __name__ == "__main__":
    main()
