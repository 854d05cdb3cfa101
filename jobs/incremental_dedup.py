"""spark-submit entry point: incremental MinHash-LSH dedup of a new
document batch against a persisted band index (ops/dedup.py — the
daily-crawl shape: the corpus is banded once; each increment joins the
index instead of re-running corpus-squared discovery).

Usage:
    zip -r dist/marker_spark.zip marker_spark
    # first batch (no index yet): builds it
    spark-submit --py-files dist/marker_spark.zip \\
        jobs/incremental_dedup.py --input day0.parquet \\
        --index /data/lsh_index --pairs-out /tmp/pairs_day0
    # every later batch: joins + appends
    spark-submit ... --input day1.parquet \\
        --index /data/lsh_index --pairs-out /tmp/pairs_day1

Index storage (doc_id, band_id, band_hash), append-only across batches:

* default: plain parquet at ``--index``;
* ``--bucketed``: a BUCKETED external table at the same location
  (``CREATE TABLE IF NOT EXISTS ... CLUSTERED BY (band_id, band_hash)
  INTO --n-buckets BUCKETS LOCATION ...`` re-issued per run — the
  in-memory catalog forgets between sessions but the bucket layout is
  in the files, so every run's index-side scan is ``Bucketed: true``
  and the per-batch join NEVER shuffles the ever-growing index side;
  only the day's small increment moves).  At 100 TB this is the
  difference between re-shuffling the corpus index every increment and
  never moving it at all (zero-exchange plan asserted in
  tests/test_incremental_dedup.py).

Candidate pairs are verified with exact shingle Jaccard bounded by the
candidate count (never a discovery-shaped self-join).  Within-batch
pairs always verify against ``--input``; CROSS-batch pairs need the old
docs' text, which the index doesn't store (it must stay O(corpus) rows
of 24-byte bands) — pass ``--corpus`` (the accumulated text store,
doc_id + text) to verify them too, else they ship with jaccard = NULL.
Existence probes go through the Hadoop FileSystem API, so hdfs:// and
s3a:// index paths behave exactly like local ones (os.path.exists is
silently False for every non-local URI).

Maintenance (``--compact --keep kept_ids.parquet``): the maybe_age of
the index (ops/dedup.py compact_band_index) — drops bands of docs no
longer retained and replaces over-cap buckets' rows with (band_id,
band_hash, frozen_sz) tombstones at ``<index>__frozen``, which every
later dedup run folds back into the joint cap check.  A frozen bucket
stays capped forever (conservative: rebuilding the index from the
corpus is the only way to resurrect one); a bucket that fell UNDER the
cap through retention keeps its rows and emits pairs again — exactly
the fresh-rebuild behavior (equivalence pinned in
tests/test_incremental_dedup.py).
"""

from __future__ import annotations

import argparse
import json
import time

INDEX_SCHEMA = "doc_id BIGINT, band_id INT, band_hash BIGINT"


def _index_table_name(location: str) -> str:
    """Catalog name KEYED BY the index location: ``CREATE TABLE IF NOT
    EXISTS`` silently ignores a LOCATION mismatch, so a fixed name
    would let a second corpus's --bucketed run in the same session
    read, and append into, the FIRST corpus's files (r10 review).
    Same path -> same name preserves the cross-session recipe."""
    import hashlib

    digest = hashlib.md5(location.rstrip("/").encode()).hexdigest()[:10]
    return f"lsh_band_index_{digest}"


def _meta_path(index: str) -> str:
    return index.rstrip("/") + "__meta"


def _register_bucketed_index(spark, location: str, n_buckets: int) -> str:
    """(Re-)declare the bucketed external index table on its location
    and return its (location-derived) catalog name.  Idempotent per
    session and across sessions: the catalog entry dies with the
    session, the bucket layout lives in the files.

    The bucket count is PINNED by a ``<index>__meta`` sidecar written
    on first create: the re-issued CREATE trusts whatever --n-buckets
    the current run passes, and Spark trusts the declared count when
    parsing bucket ids from file names — a mismatched count would make
    the zero-exchange join read the wrong hash partitioning and
    silently drop candidate pairs (r10 ADVICE).  A mismatch therefore
    fails loudly here instead."""
    from marker_spark.tables import path_exists, read_text, write_text

    meta_path = _meta_path(location)
    if path_exists(spark, meta_path):
        stored = int(json.loads(read_text(spark, meta_path)).get("n_buckets", -1))
        if stored != n_buckets:
            raise ValueError(
                f"--n-buckets {n_buckets} does not match the index at "
                f"{location} (written with n_buckets={stored}); pass "
                f"--n-buckets {stored}, or --rebuild the index"
            )
    else:
        # also pins pre-sidecar indexes on their next run
        write_text(spark, meta_path, json.dumps({"n_buckets": n_buckets}))
    table = _index_table_name(location)
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {table} ({INDEX_SCHEMA}) "
        f"USING parquet CLUSTERED BY (band_id, band_hash) "
        f"SORTED BY (band_id, band_hash) INTO {n_buckets} BUCKETS "
        f"LOCATION '{location}'"
    )
    return table


def _frozen_path(index: str) -> str:
    return index.rstrip("/") + "__frozen"


def _pairs_with_both_ids_in(pairs, ids_df):
    """Pairs whose BOTH sides appear in ``ids_df.doc_id`` — shared by
    the --corpus and no-corpus verify splits.  The trailing select is
    load-bearing: a USING semi-join moves its key FIRST, and the
    positional ``exceptAll`` downstream would then match nothing and
    ship every pair twice (r10 review follow-up)."""
    ids = ids_df.selectExpr("doc_id").distinct()
    return (
        pairs.join(ids.withColumnRenamed("doc_id", "id_a"), "id_a", "left_semi")
        .join(ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi")
        .select("id_a", "id_b")
    )


def _check_args(ap: argparse.ArgumentParser, args: argparse.Namespace) -> None:
    """Reject out-of-range numeric flags before a session starts (a
    bucket of one doc emits no pair, so a cap below 2 emits none)."""
    for flag, lo in (("bands", 1), ("rows_per_band", 1), ("max_bucket", 2), ("n_buckets", 1)):
        if getattr(args, flag) < lo:
            ap.error(f"--{flag.replace('_', '-')} must be >= {lo}")
    if not 0 <= args.jaccard <= 1:
        ap.error("--jaccard must be in [0, 1]")
    fp = args.retention_prefilter_fp
    if fp is not None and not 0 < fp < 1:
        ap.error(f"--retention-prefilter-fp must be in (0, 1), got {fp}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="new batch parquet (doc_id, text); "
                                    "required unless --compact")
    ap.add_argument("--index", required=True, help="band-index dir (created if absent)")
    ap.add_argument("--pairs-out", help="required unless --compact")
    ap.add_argument("--compact", action="store_true",
                    help="maintenance mode: retention + degenerate-bucket "
                         "reclaim instead of a dedup batch")
    ap.add_argument("--keep", default=None,
                    help="parquet of doc_id to RETAIN (required with --compact)")
    ap.add_argument("--rebuild", action="store_true",
                    help="maintenance mode: re-band the corpus text store "
                         "(--corpus required) from scratch, overwrite the "
                         "index, and CLEAR the frozen tombstones — the only "
                         "way a frozen bucket resurrects")
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument("--rows-per-band", type=int, default=4)
    ap.add_argument("--max-bucket", type=int, default=200)
    ap.add_argument("--jaccard", type=float, default=0.7)
    ap.add_argument("--bucketed", action="store_true",
                    help="store the index as a bucketed table on (band_id, "
                         "band_hash): the per-batch join reads it without an "
                         "exchange")
    ap.add_argument("--n-buckets", type=int, default=16,
                    help="bucket count for --bucketed (must stay constant "
                         "across runs on one index)")
    ap.add_argument("--retention-prefilter-fp", type=float, default=None,
                    help="with --compact: run retention through the drop-list "
                         "Bloom pre-filter at this fp rate (exchange O(dropped) "
                         "instead of the full-index doc_id shuffle — use once "
                         "the keep list outgrows the broadcast threshold)")
    ap.add_argument("--corpus", default=None,
                    help="accumulated corpus text store (doc_id, text) — "
                         "verifies CROSS-batch pairs too; without it they "
                         "ship with jaccard = NULL")
    ap.add_argument("--no-append", action="store_true",
                    help="report pairs only; do not append the batch to the index")
    args = ap.parse_args(argv)
    _check_args(ap, args)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from marker_spark.cacheutil import register, release_all
    from marker_spark.obs import RowCounts
    from marker_spark.ops.dedup import (
        incremental_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_for_pairs,
    )
    from marker_spark.tables import path_exists

    spark = (
        SparkSession.builder.appName("marker-spark-incremental-dedup")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    t0 = time.monotonic()

    if args.compact and args.rebuild:
        # silently preferring one would drop the other's intent (the
        # user asked to clear tombstones AND got a pass that can only
        # add them)
        ap.error("--compact and --rebuild are mutually exclusive")
    if args.compact:
        if not args.keep:
            ap.error("--compact requires --keep")
        _run_compact(spark, args, t0)
        return
    if args.rebuild:
        if not args.corpus:
            ap.error("--rebuild requires --corpus (the text store to re-band)")
        _run_rebuild(spark, args, t0)
        return
    if not args.input or not args.pairs_out:
        ap.error("--input and --pairs-out are required unless "
                 "--compact/--rebuild")

    num_perm = args.bands * args.rows_per_band
    batch = spark.read.parquet(args.input)
    sigs = minhash_signatures(batch, num_perm=num_perm)

    fresh = not path_exists(spark, args.index)
    table = None
    if args.bucketed:
        table = _register_bucketed_index(spark, args.index, args.n_buckets)
        # an empty just-created table reads as an empty index — the
        # first batch's pairs are simply its within-batch candidates
        index = spark.read.table(table)
    elif fresh:
        index = spark.createDataFrame(
            [], "doc_id long, band_id int, band_hash long"
        )
    else:
        index = spark.read.parquet(args.index)

    # a prior --compact pass may have replaced degenerate buckets'
    # rows with size tombstones — fold them into the joint cap check
    frozen = None
    if path_exists(spark, _frozen_path(args.index)):
        frozen = spark.read.parquet(_frozen_path(args.index))

    pairs, new_bands = incremental_lsh_pairs(
        index, sigs,
        bands=args.bands, rows_per_band=args.rows_per_band,
        max_bucket=args.max_bucket, frozen=frozen,
    )
    # the verify split below gives the pair plan (index scan + cross
    # join + self-join + distinct) THREE consumers — persist or the
    # whole discovery subtree re-runs per consumer (r2 rule)
    pairs = register(pairs.persist())

    # verification bounded by candidate pairs (never a discovery-shaped
    # self-join).  Text sources: the batch always; plus --corpus for the
    # old side of cross pairs when the deployment provides it.
    if args.corpus:
        # prefer the BATCH side deterministically when a doc_id exists
        # in both stores: union + dropDuplicates keeps an arbitrary
        # row, so a re-crawled doc could verify against stale corpus
        # text and flip jaccard between runs (r10 ADVICE)
        batch_texts = batch.select("doc_id", "text")
        texts = (
            spark.read.parquet(args.corpus)
            .select("doc_id", "text")
            .join(batch_texts.select("doc_id"), "doc_id", "left_anti")
            .unionByName(batch_texts)
        )
        # a band can outlive its text (the retention window before the
        # next --compact pass): a pair touching a doc missing from the
        # corpus store ships UNVERIFIED with jaccard = NULL — the
        # verify join must never silently drop it (r10 review)
        covered = _pairs_with_both_ids_in(pairs, texts.select("doc_id"))
        uncovered = pairs.exceptAll(covered)
        out = ngram_jaccard_for_pairs(covered, texts).where(
            f"jaccard >= {args.jaccard}"
        ).unionByName(
            uncovered.selectExpr("id_a", "id_b", "CAST(NULL AS DOUBLE) AS jaccard")
        )
    else:
        within = _pairs_with_both_ids_in(pairs, batch.select("doc_id"))
        cross = pairs.exceptAll(within)
        verified = ngram_jaccard_for_pairs(within, batch).where(
            f"jaccard >= {args.jaccard}"
        )
        out = verified.unionByName(
            cross.selectExpr("id_a", "id_b", "CAST(NULL AS DOUBLE) AS jaccard")
        )
    counts = RowCounts(spark)
    out = counts.observe(out, "candidate_pairs", result_stage=True)
    out.write.mode("overwrite").parquet(args.pairs_out)
    n_pairs = counts["candidate_pairs"]

    if not args.no_append:
        # append AFTER the pairs are materialized: the pair plan reads
        # the index, and appending first would double-count the batch
        if args.bucketed:
            # insertInto resolves positionally — pin the DDL column order
            (
                new_bands.select(
                    F.col("doc_id").cast("long"),
                    F.col("band_id").cast("int"),
                    F.col("band_hash").cast("long"),
                )
                .write.mode("append")
                .insertInto(table)
            )
        else:
            # plain append (creates the directory on the first batch) —
            # never a conditional overwrite that could clobber an index
            # a mis-probed existence check said wasn't there
            new_bands.write.mode("append").parquet(args.index)
    release_all()
    print(json.dumps({
        "input": args.input,
        "index": args.index,
        "index_created": fresh,
        "bucketed": bool(args.bucketed),
        "frozen_buckets": frozen.count() if frozen is not None else 0,
        "batch_docs": batch.count(),
        "candidate_pairs": n_pairs,
        "secs": round(time.monotonic() - t0, 2),
    }))


def _run_compact(spark, args, t0) -> None:
    """Retention + degenerate-bucket reclaim, rewrite in place.  The
    rewrite reads what it overwrites, so the compacted rows stage
    through ``<index>__compact_tmp`` first; the frozen merge is a
    bounded driver collect (O(degenerate buckets))."""
    from pyspark.sql import functions as F

    from marker_spark.cacheutil import release_all
    from marker_spark.obs import RowCounts
    from marker_spark.ops.dedup import compact_band_index
    from marker_spark.tables import delete_path, path_exists

    keep = spark.read.parquet(args.keep).select("doc_id")
    if args.bucketed:
        table = _register_bucketed_index(spark, args.index, args.n_buckets)
        index = spark.read.table(table)
    else:
        index = spark.read.parquet(args.index)
    n_before = index.count()

    compacted, frozen = compact_band_index(
        index, keep, max_bucket=args.max_bucket,
        prefilter_fp=args.retention_prefilter_fp,
    )
    fz_path = _frozen_path(args.index)
    if path_exists(spark, fz_path):
        # prior tombstones stay capped forever; re-frozen buckets sum
        # (both row sets are gone — the joint check needs their total)
        frozen = (
            frozen.unionByName(spark.read.parquet(fz_path))
            .groupBy("band_id", "band_hash")
            .agg(F.sum("frozen_sz").alias("frozen_sz"))
        )
    frozen_rows = [
        (r["band_id"], r["band_hash"], r["frozen_sz"]) for r in frozen.collect()
    ]

    tmp = args.index.rstrip("/") + "__compact_tmp"
    compacted.write.mode("overwrite").parquet(tmp)
    # explicit schema: the staged rows read back with the index's own
    # schema instead of an inferred one (an empty retention pass still
    # reads as a typed, empty index)
    counts = RowCounts(spark)
    staged = counts.observe(
        spark.read.schema(index.schema).parquet(tmp), "rows_after", result_stage=True
    )
    # tombstones FIRST: a crash between the two writes then only
    # double-counts reclaimed buckets (conservative — they stay
    # capped); index-first would leave them permanently UN-capped
    # (r10 review)
    spark.createDataFrame(
        frozen_rows, "band_id int, band_hash long, frozen_sz long"
    ).write.mode("overwrite").parquet(fz_path)
    if args.bucketed:
        (
            staged.select(
                F.col("doc_id").cast("long"),
                F.col("band_id").cast("int"),
                F.col("band_hash").cast("long"),
            )
            .write.mode("overwrite")
            .insertInto(table, overwrite=True)
        )
    else:
        staged.write.mode("overwrite").parquet(args.index)
    n_after = counts["rows_after"]
    delete_path(spark, tmp)
    release_all()
    print(json.dumps({
        "mode": "compact",
        "index": args.index,
        "bucketed": bool(args.bucketed),
        "rows_before": n_before,
        "rows_after": n_after,
        "frozen_buckets": len(frozen_rows),
        "secs": round(time.monotonic() - t0, 2),
    }))


def _run_rebuild(spark, args, t0) -> None:
    """Re-band the corpus text store from scratch and clear every
    tombstone — the escape hatch from --compact's conservatism (a
    frozen bucket never resurrects otherwise).  The new bands derive
    from --corpus, not from the old index, so the overwrite needs no
    staging; the tombstone clear comes LAST (crash before it leaves
    the old tombstones alongside the fresh index — conservative, same
    direction as --compact's write order)."""
    from pyspark.sql import functions as F

    from marker_spark.cacheutil import release_all
    from marker_spark.obs import RowCounts
    from marker_spark.ops.dedup import lsh_band_table, minhash_signatures
    from marker_spark.tables import delete_path

    corpus = spark.read.parquet(args.corpus).select("doc_id", "text")
    sigs = minhash_signatures(corpus, num_perm=args.bands * args.rows_per_band)
    counts = RowCounts(spark)
    bands = counts.observe(
        lsh_band_table(sigs, bands=args.bands, rows_per_band=args.rows_per_band),
        "index_rows", result_stage=True,
    )
    if args.bucketed:
        table = _register_bucketed_index(spark, args.index, args.n_buckets)
        (
            bands.select(
                F.col("doc_id").cast("long"),
                F.col("band_id").cast("int"),
                F.col("band_hash").cast("long"),
            )
            .write.mode("overwrite")
            .insertInto(table, overwrite=True)
        )
    else:
        bands.write.mode("overwrite").parquet(args.index)
    n_rows = counts["index_rows"]
    cleared = delete_path(spark, _frozen_path(args.index))
    release_all()
    print(json.dumps({
        "mode": "rebuild",
        "index": args.index,
        "bucketed": bool(args.bucketed),
        "index_rows": n_rows,
        "tombstones_cleared": bool(cleared),
        "secs": round(time.monotonic() - t0, 2),
    }))


if __name__ == "__main__":
    main()
