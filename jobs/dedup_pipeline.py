"""spark-submit entry point: end-to-end training-data dedup pipeline.

The composition a corpus-cleaning job runs at scale, each stage an
operator from marker_spark.ops:

  1. quality filter   — Catalyst text stats (ops/text.with_text_stats)
  2. exact dedup      — digest groupBy, text never shuffled
                        (ops/dedup.exact_dedup_scalable)
  3. near-dup dedup   — MinHash signatures -> LSH banding (capped
                        buckets) -> exact-Jaccard verify on candidates
                        only -> drop the higher-id doc of each verified
                        pair (ops/dedup.*); with --keep-best, instead
                        cluster the verified pairs (connected
                        components) and keep each cluster's highest-
                        quality member (ops/dedup.canonical_selection)
  3b. semantic dedup  — optional (--embeddings <parquet>): SemDeDup
                        (Abbas et al. 2023) over an embeddings sidecar
                        — k-means cells + drop any doc whose vector has
                        a lower-id cosine-duplicate cluster-mate
                        (ops/dedup.semdedup_flags)
  4. span excision    — optional (--span-k > 0): duplicated substring
                        spans across the surviving docs are cut out of
                        the higher-id copy (Lee et al.-style;
                        ops/dedup.duplicated_spans + remove_*); with
                        --boilerplate, spans shared by MORE than
                        span-max-df docs (exempt from the pair path by
                        its frequency cap) are excised from every doc
                        (ops/dedup.boilerplate_spans)
  5. write the clean corpus + one JSON report line

The report's row counts are observed on the actions the pass runs
anyway (marker_spark.obs.RowCounts); after_exact_dedup alone is a count
action, the one that materializes the persisted exact stage.  Off a
local master, input_docs, after_quality and near_dup_pairs_verified are
plain counts again: there a re-run map task would be observed twice.

Usage:
    zip -r dist/marker_spark.zip marker_spark
    spark-submit --master local[8] --py-files dist/marker_spark.zip \\
        jobs/dedup_pipeline.py --input /path/documents.parquet \\
        --output /tmp/clean_corpus --min-quality 0.3 --jaccard 0.8
"""

from __future__ import annotations

import argparse
import json
import time


def _check_args(ap: argparse.ArgumentParser, args: argparse.Namespace) -> None:
    """Reject out-of-range numeric flags before a session starts."""
    for flag, lo, hi in (
        ("min_quality", 0, 1), ("jaccard", 0, 1), ("semdedup_threshold", -1, 1),
    ):
        if not lo <= getattr(args, flag) <= hi:
            ap.error(f"--{flag.replace('_', '-')} must be in [{lo}, {hi}]")
    for flag, lo in (
        ("min_words", 0), ("shingle", 1), ("max_bucket", 2), ("span_k", 0),
        ("span_min_len", 1), ("span_max_df", 1), ("semdedup_cells", 1),
        # lsh_candidate_pairs cuts 32 bands of 4 rows: a shorter signature
        # leaves empty bands that every doc shares, one corpus-wide bucket
        ("num_perm", 128),
    ):
        if getattr(args, flag) < lo:
            ap.error(f"--{flag.replace('_', '-')} must be >= {lo}")
    if args.boilerplate and args.span_k <= 0:
        ap.error("--boilerplate requires --span-k > 0 (it shares the "
                 "span-excision stage's gram size)")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--min-quality", type=float, default=0.3)
    ap.add_argument("--min-words", type=int, default=5)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--shingle", type=int, default=3)
    ap.add_argument("--max-bucket", type=int, default=10_000)
    ap.add_argument("--span-k", type=int, default=0,
                    help="char k-gram size for duplicated-span excision; 0 disables")
    ap.add_argument("--span-min-len", type=int, default=50)
    ap.add_argument("--span-max-df", type=int, default=16)
    ap.add_argument("--boilerplate", action="store_true",
                    help="also excise spans shared by MORE than span-max-df "
                         "docs (the high-DF region the pair path exempts)")
    ap.add_argument("--embeddings", default=None,
                    help="optional embeddings sidecar parquet enabling the "
                         "SemDeDup semantic-dedup stage (arXiv:2303.09540)")
    ap.add_argument("--emb-id-col", default="doc_id")
    ap.add_argument("--emb-vec-col", default="embedding")
    ap.add_argument("--semdedup-cells", type=int, default=16,
                    help="k-means cells; the paper's recipe grows this with "
                         "the corpus to keep cluster size (the quadratic "
                         "bound) ~constant")
    ap.add_argument("--semdedup-threshold", type=float, default=0.95)
    ap.add_argument("--keep-best", action="store_true",
                    help="near-dup survivors by CLUSTER quality (connected "
                         "components over verified pairs + keep the highest-"
                         "quality member) instead of the pairwise drop-the-"
                         "higher-id rule — keeps exactly one doc per near-dup "
                         "cluster, and it is the best one")
    args = ap.parse_args(argv)
    _check_args(ap, args)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from marker_spark.ops.dedup import (
        ngram_jaccard_for_pairs,
        exact_dedup_scalable,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from marker_spark.obs import RowCounts
    from marker_spark.ops.text import with_text_stats

    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName("marker-spark-dedup-pipeline").getOrCreate()
    t0 = time.time()
    idc, txt = args.id_col, args.text_col

    # the report's counts come from the actions that run anyway: the
    # exact stage's persist count runs `docs` and `kept`, the write runs
    # the `verified` cache build and `clean`, on every flag path
    counts = RowCounts(spark)
    docs = counts.observe(spark.read.parquet(args.input), "input_docs")

    # 1. quality filter (pure Catalyst — runs inside the scan stage)
    scored = with_text_stats(docs, text_col=txt)
    kept = scored.where(
        (F.col("quality_score") >= args.min_quality) & (F.col("n_words") >= args.min_words)
    ).drop("n_words", "avg_word_len", "punct_ratio", "stopword_ratio", "quality_score")
    kept = counts.observe(kept, "after_quality")

    # 2. exact dedup (shuffle carries digests + ids, never text); the
    #    count materializes the persist MinHash and the anti-join read
    exact = exact_dedup_scalable(kept, text_col=txt, id_col=idc).persist()
    n_exact = exact.count()

    # 3. near-dup: LSH candidates (capped buckets) -> exact-Jaccard
    #    verification ONLY on candidates -> keep the min-id doc
    sigs = minhash_signatures(exact, text_col=txt, num_perm=args.num_perm,
                              shingle=args.shingle, id_col=idc)
    cands = lsh_candidate_pairs(sigs, id_col=idc, max_bucket=args.max_bucket)
    # verification bounded by the candidate PAIR count (which max_bucket
    # caps) — running the discovery-shaped shingle self-join over the
    # candidate DOC set would re-create the quadratic hot-shingle
    # blow-up LSH banding exists to avoid
    verified = counts.observe(
        ngram_jaccard_for_pairs(
            cands, exact, text_col=txt, id_col=idc, shingle=args.shingle
        ).where(F.col("jaccard") >= args.jaccard),
        "near_dup_pairs_verified",
    ).persist()  # observed BEFORE the persist: the cache build counts it
    if args.keep_best:
        # cluster-level selection: transitive closure over verified
        # pairs, then keep the highest-quality member of each cluster
        # (the pairwise id_b drop can strand several docs of one
        # cluster, and the one it keeps is the lowest id, not the best)
        from marker_spark.ops.dedup import canonical_selection, connected_components

        qual = scored.select(
            F.col(idc), F.round("quality_score", 6).alias("__quality")
        )
        comp = connected_components(verified.select("id_a", "id_b")).select(
            F.col("id").alias(idc), "component"
        )
        members = comp.join(qual, idc)
        sel = canonical_selection(
            members, id_col=idc, cluster_col="component", score_col="__quality"
        )
        drop = sel.where(~F.col("keep")).select(idc)
    else:
        # pairs from the FULL candidate set, verified exactly; drop id_b side
        drop = verified.select(F.col("id_b").alias(idc)).distinct()
    clean = exact.join(drop, idc, "left_anti").drop("dup_count")

    # 3b. optional SemDeDup semantic dedup (Abbas et al. 2023): an
    #     embeddings sidecar table, k-means cells trained on a bounded
    #     sample, and the paper's upper-triangular rule — drop any doc
    #     whose vector has a lower-id semantic duplicate in its cell.
    #     Docs without a vector pass through untouched (left_anti on
    #     the flagged ids).
    n_semdup = 0
    if args.embeddings:
        from marker_spark.ops.dedup import semdedup_flags
        from marker_spark.ops.similarity import kmeans_centroids

        emb = spark.read.parquet(args.embeddings).select(
            F.col(args.emb_id_col).alias(idc),
            F.col(args.emb_vec_col).alias("embedding"),
        )
        # only surviving docs' vectors participate in clustering/pairs
        emb = emb.join(clean.select(idc), idc, "left_semi")
        cents = kmeans_centroids(emb, n_cells=args.semdedup_cells)
        flagged = semdedup_flags(
            emb, cents, id_col=idc, threshold=args.semdedup_threshold
        )
        from marker_spark.cacheutil import register

        # persist: the anti-joined `clean` feeds every later action
        # (span counts, removal, final write) — without this each one
        # re-runs the O(cluster-size^2) blocked cosine pair kernel
        sem_drop = register(
            flagged.where(F.col("is_dup") == 1).select(idc).persist()
        )
        n_semdup = sem_drop.count()
        clean = clean.join(sem_drop, idc, "left_anti")

    # 4. optional duplicated-span excision over the surviving docs:
    #    repeated substrings that survive document-level dedup (shared
    #    boilerplate, quoted passages) are cut out of the higher-id copy
    n_spans = 0
    n_boiler = 0
    if args.span_k > 0:
        from marker_spark.cacheutil import register
        from marker_spark.ops.dedup import (
            boilerplate_spans,
            char_grams,
            duplicated_spans,
            remove_duplicated_spans,
        )

        # ONE corpus-sized gram explode serves both span paths: the
        # pair path consumes df <= max_df grams, the boilerplate path
        # df > max_df — complementary filters over the same table
        shared_grams = register(
            char_grams(clean, text_col=txt, id_col=idc, k=args.span_k).persist()
        ) if args.boilerplate else None
        spans = register(
            duplicated_spans(
                clean, text_col=txt, id_col=idc,
                k=args.span_k, min_len=args.span_min_len, max_df=args.span_max_df,
                grams=shared_grams,
            ).persist()
        )
        n_spans = spans.count()
        removal = spans.select(
            F.col("doc_b"), F.col("start_b"), F.col("span_len")
        )
        if args.boilerplate:
            # the pair path's max_df cap exempts spans shared by MORE
            # than max_df docs — the most duplicated content in a real
            # crawl; the high-DF path reports them per-doc (no canonical
            # keeper) and they union into the same removal pass
            boiler = register(
                boilerplate_spans(
                    clean, text_col=txt, id_col=idc,
                    k=args.span_k, min_len=args.span_min_len,
                    max_df=args.span_max_df,
                    grams=shared_grams,
                ).persist()
            )
            n_boiler = boiler.count()
            removal = removal.unionByName(
                boiler.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("start").alias("start_b"),
                    "span_len",
                )
            )
        if n_spans or n_boiler:
            cleaned_text = remove_duplicated_spans(
                clean, removal, text_col=txt, id_col=idc
            ).select(
                F.col("doc_id").alias(idc),
                F.col("text").alias(txt),
            )
            clean = (
                clean.drop(txt)
                .join(cleaned_text, idc, "inner")
            )

    clean = counts.observe(clean, "after_near_dedup", result_stage=True)
    clean.write.mode("overwrite").parquet(args.output)

    print(json.dumps({
        "input_docs": counts["input_docs"],
        "after_quality": counts["after_quality"],
        "after_exact_dedup": n_exact,
        "after_near_dedup": counts["after_near_dedup"],
        "near_dup_pairs_verified": counts["near_dup_pairs_verified"],
        "duplicated_spans_excised": n_spans,
        "boilerplate_spans_excised": n_boiler,
        "semantic_dups_dropped": n_semdup,
        "output": args.output,
        "secs": round(time.time() - t0, 2),
    }))
    # writes are done: drop every persisted/registered handle so
    # repeated invocations in a caller-owned long-lived session don't
    # accrete cached gram/band tables in storage memory
    from marker_spark.cacheutil import release_all

    exact.unpersist()
    verified.unpersist()
    release_all()
    if owns_session:  # don't tear down a caller-owned session (tests)
        spark.stop()


if __name__ == "__main__":
    main()
