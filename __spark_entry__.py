"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 to a
callable (spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for the exactly-SQL-expressible subset (sketch
estimates and hash-dependent ops get rows-only checks).  Column names
and float rounding match between both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from marker_spark.obs import spread_thin

SOURCES_TBL = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings"]


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _probe_vector(emb: DataFrame, vec_id: int | None = None) -> list:
    """Fetch one embedding as a Python list with a self-describing
    failure (the `:360` guard pattern, applied to every probe site —
    verdict r8 item 3).  A bare ``head()[0]`` on a degenerate fixture
    raises ``TypeError: 'NoneType' object is not subscriptable``, which
    says nothing about WHICH table was empty or why."""
    df = emb if vec_id is None else emb.where(F.col("vec_id") == vec_id)
    row = df.select("embedding").head()
    what = "embeddings table" if vec_id is None else f"vec_id={vec_id} row"
    assert row is not None and row[0] is not None, (
        f"{what} is missing or its vector is NULL — cannot probe a "
        "query vector for this similarity query"
    )
    return [float(x) for x in row[0]]


def _md5_bottom_ids(docs: DataFrame, k: int) -> list:
    """Deterministic md5-bottom-k doc ids — the benchmark/reference
    sample rule shared by decontamination, corpus_prep_spans, and
    lm_quality_perplexity.  ONE definition so the Spark side can never
    drift from the oracles' ``ORDER BY md5(CAST(doc_id AS VARCHAR))
    LIMIT k`` clause."""
    return [
        r["doc_id"]
        for r in docs.select(
            "doc_id", F.md5(F.col("doc_id").cast("string")).alias("__r")
        )
        .orderBy("__r")
        .limit(k)
        .collect()
    ]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: distributed Bloom sketch build over token 3-grams of the
    tokenized sf0.001 documents, grouped by source; returns per-source
    sketch metadata + membership self-check counts."""
    return _flagship(spark, "/root/testdata/sf0.001")


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Bloom build over token 3-grams per source, emitting
    per-source sketch metadata straight from the merge task: the merged
    bitmap never moves to the driver (only #sources rows of scalars do),
    and a stats pass sizes each source's filter from its actual n-gram
    count (group-aware factory) instead of a fixed capacity that would
    undersize at 100x the corpus."""
    from marker_spark.agg import sketch_agg
    from marker_spark.kernels import bloom_ngram_updater
    from marker_spark.params import BloomParams
    from marker_spark.sketches.bloom import BloomSketch
    from marker_spark.tokenize import tokenize_documents

    docs = _read(spark, sf_dir, "documents")
    tok = tokenize_documents(docs).cache()
    from marker_spark.cacheutil import register

    register(tok)
    from marker_spark.agg import NULL_KEY

    counts = {
        (NULL_KEY if r["source"] is None else r["source"]): int(r["n"])
        for r in tok.groupBy("source")
        .agg(F.sum(F.greatest(F.col("n_tok") - 2, F.lit(0))).alias("n"))
        .collect()
    }

    def factory(key):
        cap = max(int(counts.get(key[0], 100_000) * 1.2), 10_000)
        p = BloomParams.solve(cap, 0.001)
        return BloomSketch(p.m, p.k)

    def finalize(sk):
        return {
            "n_inserted": int(sk.n_inserted),
            "m": int(sk.m),
            "k": int(sk.k),
            "fill_ratio": round(sk.fill_ratio(), 6),
        }

    return sketch_agg(
        tok, factory, bloom_ngram_updater(3), BloomSketch, group_cols=["source"],
        finalize=finalize,
        finalize_schema="n_inserted long, m long, k long, fill_ratio double",
    ).orderBy("source")


# ---------------------------------------------------------------------------
# SQL-expressible queries (exact oracles)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 4
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    # customer is the small dim -> broadcast; no shuffle of orders.
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"), F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(10)
    )


def q_bucket_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    day = 86_400
    return (
        ev.withColumn("bucket_start", (F.floor(F.unix_timestamp("ts") / day) * day).cast("long"))
        .groupBy("bucket_start", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )


def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"), F.count(F.lit(1)).alias("n_events")
    )


def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 4).alias("p90"),
        F.round(F.min("value"), 4).alias("vmin"),
        F.round(F.max("value"), 4).alias("vmax"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.text import with_text_stats

    docs = _read(spark, sf_dir, "documents")
    stats = with_text_stats(docs)
    return stats.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.text import lang_id_col

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.withColumn("predicted", lang_id_col("text"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-level groupBy, NOT countDistinct(text) next to count(*): that
    # plans an EXPAND doubling input rows pre-shuffle AND ships full
    # document text through the exchange.  Level 1 groups on (source,
    # digest) so the shuffle carries ~40 digest bytes per row; level 2
    # folds to per-source counts.  The compound digest (md5 + xxhash64
    # + length) keeps "distinct texts" honest under md5 collisions —
    # same rationale as ops/dedup.exact_dedup_scalable.
    docs = _read(spark, sf_dir, "documents")
    per_text = docs.groupBy(
        "source",
        F.md5("text").alias("__d1"),
        F.xxhash64("text").alias("__d2"),
        F.length("text").alias("__len"),
    ).agg(F.count(F.lit(1)).alias("__n"))
    return per_text.groupBy("source").agg(
        F.sum("__n").alias("n_docs"),
        # count(__d1), not count(*): NULL texts form a (NULL, seed,
        # NULL) digest group that count(DISTINCT text) — the oracle and
        # the old countDistinct plan — does NOT count; count skips the
        # NULL digest, preserving SQL DISTINCT's NULL semantics
        F.count("__d1").alias("n_distinct_texts"),
    )


def q_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.text import words_col

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(words_col(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("word"))
        .limit(20)
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.dedup import ngram_jaccard_pairs
    from marker_spark.ops.text import words_col

    docs = _read(spark, sf_dir, "documents").where(F.size(words_col(F.col("text"))) >= 3)
    return ngram_jaccard_pairs(docs, shingle=3, threshold=0.5, id_col="doc_id")


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = _probe_vector(emb, vec_id=0)
    return brute_force_topk(emb, query, k=10)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold 0.3: the synthetic embeddings are near-orthogonal (best
    within-label cosine ~0.45), so 0.3 yields a real, non-empty match
    set at every sf — the gate exercises the label-blocked pair kernel
    and its cosine math instead of passing vacuously on 0 rows."""
    from marker_spark.ops.dedup import embedding_near_dup_pairs

    emb = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.3, block_col="label")


_LSH_DEDUP_PLANES = 6
_LSH_DEDUP_SEED = 42
_LSH_DEDUP_THRESHOLD = 0.3
_LSH_DEDUP_DIM = 64  # testdata embedding dimension; oracle planes use it


def _lsh_dedup_plane_matrix(dim: int):
    import numpy as np

    rng = np.random.default_rng(_LSH_DEDUP_SEED)
    return rng.standard_normal((dim, _LSH_DEDUP_PLANES))


def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale embedding near-dup: hyperplane-LSH buckets as the
    blocking key instead of the label column — the shape that works when
    no label exists and all-pairs is impossible.  EXACTLY oracle-able:
    the (dim x n_planes) plane matrix is a deterministic seeded literal,
    so DuckDB recomputes the same sign-pattern buckets via
    list_dot_product and the same blocked cosine join."""
    from marker_spark.ops.dedup import embedding_near_dup_lsh

    emb = _read(spark, sf_dir, "embeddings")
    dim = len(_probe_vector(emb))
    # the oracle bakes in plane literals for this dimension; fail loudly
    # on a mismatched fixture instead of comparing different planes
    assert dim == _LSH_DEDUP_DIM, (
        f"embeddings dim {dim} != {_LSH_DEDUP_DIM}; regenerate the "
        f"embedding_near_dup_lsh oracle via _embedding_lsh_oracle_sql(dim)"
    )
    return embedding_near_dup_lsh(
        emb, dim=dim, threshold=_LSH_DEDUP_THRESHOLD,
        n_planes=_LSH_DEDUP_PLANES, seed=_LSH_DEDUP_SEED,
    ).orderBy("id_a", "id_b")


def _embedding_lsh_oracle_sql(dim: int = _LSH_DEDUP_DIM) -> str:
    """Generate the DuckDB oracle: bucket = sign pattern against the
    same seeded plane literals, pairs blocked by bucket, cosine >= t."""
    planes = _lsh_dedup_plane_matrix(dim)
    bucket_terms = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(float(x)) for x in planes[:, j])}]) > 0 "
        f"THEN {1 << j} ELSE 0 END)"
        for j in range(_LSH_DEDUP_PLANES)
    )
    return f"""
        WITH b AS (
            SELECT vec_id, embedding, {bucket_terms} AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(bb.embedding AS DOUBLE[])), 6) AS cosine
        FROM b a JOIN b bb
          ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
        WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                           CAST(bb.embedding AS DOUBLE[])), 6)
              >= {_LSH_DEDUP_THRESHOLD}
        ORDER BY id_a, id_b
    """


_SEMDEDUP_K = 8
_SEMDEDUP_SEED = 7
_SEMDEDUP_THRESHOLD = 0.95
_SEMDEDUP_CLONE_MOD = 7
_SEMDEDUP_CLONE_OFFSET = 100000


def _semdedup_centroid_matrix(dim: int = _LSH_DEDUP_DIM):
    """Seeded unit-vector centroids for the driver query: the SemDeDup
    RULE is centroid-agnostic (any partition of the space gives a valid
    semantic-dedup pass), and data-independent centroids are what lets
    one static oracle replay the assignment as literals at EVERY sf —
    the same reason the LSH oracle bakes plane literals.  Production
    runs pass kmeans_centroids() output instead (unit-tested against a
    numpy replica in tests/test_dedup_ops.py)."""
    import numpy as np

    rng = np.random.default_rng(_SEMDEDUP_SEED)
    c = rng.standard_normal((_SEMDEDUP_K, dim))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) semantic dedup over the embeddings
    table: coarse-quantizer cells + the paper's upper-triangular rule
    (drop a vector iff a LOWER-id cluster-mate has cosine >= 0.95).
    The fixture vectors are near-orthogonal (best natural cosine ~0.33)
    so positives are injected deterministically: every 7th vector gets
    an exact clone at vec_id + 100000 — the pii_redaction/boilerplate
    augmentation pattern — and the query must flag exactly the clones.

    EXACTLY oracle-able end to end: seeded centroid literals replay the
    argmax-of-rounded-dots assignment in DuckDB (first-index ties via
    list_position), the blocked cosine join replays via
    list_cosine_similarity, and the -1.0 sentinel keeps the no-dup rows
    hash-comparable (cross-engine NULL doubles are not)."""
    from marker_spark.ops.dedup import semdedup_flags

    emb = _read(spark, sf_dir, "embeddings")
    dim = len(_probe_vector(emb))
    assert dim == _LSH_DEDUP_DIM, (
        f"embeddings dim {dim} != {_LSH_DEDUP_DIM}; regenerate the "
        f"semdedup oracle via _semdedup_oracle_sql(dim)"
    )
    base = emb.select("vec_id", "embedding").unionByName(
        emb.where(F.col("vec_id") % _SEMDEDUP_CLONE_MOD == 0).select(
            (F.col("vec_id") + _SEMDEDUP_CLONE_OFFSET).alias("vec_id"),
            "embedding",
        )
    )
    flags = semdedup_flags(
        base, _semdedup_centroid_matrix(dim), threshold=_SEMDEDUP_THRESHOLD
    )
    return flags.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("cell").cast("long").alias("cell"),
        F.col("is_dup").cast("long").alias("is_dup"),
        F.col("max_lower_cos"),
    ).orderBy("vec_id")


def _semdedup_oracle_sql(dim: int = _LSH_DEDUP_DIM) -> str:
    """Generate the DuckDB oracle: same clone injection, same centroid
    literals, argmax of round-6 dots with first-index ties, blocked
    upper-triangular cosine rule."""
    cents = _semdedup_centroid_matrix(dim)
    dot_terms = ", ".join(
        f"round(coalesce(list_dot_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(float(x)) for x in cents[j])}]), 0.0), 6)"
        for j in range(len(cents))
    )
    return f"""
        WITH base AS (
            SELECT vec_id, embedding FROM embeddings
            UNION ALL
            SELECT vec_id + {_SEMDEDUP_CLONE_OFFSET}, embedding
            FROM embeddings WHERE vec_id % {_SEMDEDUP_CLONE_MOD} = 0
        ), dotted AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                   [{dot_terms}] AS dots
            FROM base
        ), cells AS (
            SELECT vec_id, v,
                   list_position(dots, list_aggregate(dots, 'max')) - 1 AS cell
            FROM dotted
        ), pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_cosine_similarity(a.v, b.v), 6) AS cosine
            FROM cells a JOIN cells b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
        ), dropped AS (
            SELECT id_b AS vec_id, round(max(cosine), 6) AS mlc
            FROM pairs WHERE cosine >= {_SEMDEDUP_THRESHOLD}
            GROUP BY id_b
        )
        SELECT CAST(c.vec_id AS BIGINT) AS vec_id,
               CAST(c.cell AS BIGINT) AS cell,
               CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
                   AS is_dup,
               coalesce(d.mlc, -1.0) AS max_lower_cos
        FROM cells c LEFT JOIN dropped d USING (vec_id)
        ORDER BY vec_id
    """


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per source by summed TF-IDF — pure
    Catalyst (explode, two aggs, vocabulary join, window top-k) with an
    exact DuckDB oracle (scores round to 6 before ranking; word
    tie-break makes the order deterministic)."""
    from marker_spark.ops.text import tfidf_top_terms

    docs = _read(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3).orderBy("source", F.desc("tfidf"), "word")


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 adjacent-bigram collocations by PMI (min pair count 5) —
    the language-model-statistics member of the text-analysis family,
    exactly oracle-gated like tfidf/bm25 (round-6 + tie-break)."""
    from marker_spark.ops.text import pmi_collocations

    docs = _read(spark, sf_dir, "documents")
    return pmi_collocations(docs, k=10, min_count=5)


def q_bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 documents for the corpus' own top-3 terms —
    fully declarative retrieval scoring (broadcast term table + 1-row
    stats, keyed aggregations, window-free top-k) with an exact DuckDB
    oracle (round-6 scores + id tie-break)."""
    from marker_spark.ops.text import bm25_top_docs

    docs = _read(spark, sf_dir, "documents")
    return bm25_top_docs(docs, n_query_terms=3, k=10).select(
        F.col("doc_id").cast("long").alias("doc_id"), "bm25"
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: exact n-gram Jaccard pairs ->
    connected components via large-star/small-star rounds (the
    transitive-closure step a real dedup pipeline applies before
    choosing representatives).  Oracle: DuckDB recursive CTE computes
    the same components over the same pair predicate — an iterative
    distributed algorithm with an exact SQL gate."""
    from marker_spark.ops.dedup import connected_components, ngram_jaccard_pairs
    from marker_spark.ops.text import words_col

    docs = _read(spark, sf_dir, "documents").where(F.size(words_col(F.col("text"))) >= 3)
    pairs = ngram_jaccard_pairs(docs, shingle=3, threshold=0.5, id_col="doc_id")
    comp = connected_components(pairs)
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    ).orderBy("doc_id")


def q_dedup_clusters_logstar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same duplicate clusters as `dedup_clusters`, from the same
    O(log d)-round connected components (Kiveris et al., SoCC 2014);
    kept as its own query name.  It has no oracle of its own:
    tests/test_oracles.py checks its rows equal those of the
    oracle-checked `dedup_clusters`."""
    from marker_spark.ops.dedup import connected_components, ngram_jaccard_pairs
    from marker_spark.ops.text import words_col

    docs = _read(spark, sf_dir, "documents").where(F.size(words_col(F.col("text"))) >= 3)
    pairs = ngram_jaccard_pairs(docs, shingle=3, threshold=0.5, id_col="doc_id")
    comp = connected_components(pairs)
    return comp.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
    ).orderBy("doc_id")


def q_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative selection after clustering — the step that turns
    duplicate CLUSTERS into a kept/dropped decision: per component keep
    the highest-quality member (Gopher-style quality_score rounded to
    6 decimals for cross-engine order stability; ties by lowest id),
    mark the rest as duplicates of it.  Composes the dedup_clusters
    pair predicate + connected components with
    :func:`marker_spark.ops.dedup.canonical_selection` (one window
    shuffle keyed by component).  Full DuckDB oracle — the
    dedup_clusters recursive CTE extended with the corpus_prep quality
    formula and the same ROW_NUMBER rule — runs verbatim in
    tests/test_retired_oracles.py (driver window full at 50/50)."""
    from marker_spark.ops.dedup import (
        canonical_selection,
        connected_components,
        ngram_jaccard_pairs,
    )
    from marker_spark.ops.text import with_text_stats, words_col

    docs = _read(spark, sf_dir, "documents").where(F.size(words_col(F.col("text"))) >= 3)
    pairs = ngram_jaccard_pairs(docs, shingle=3, threshold=0.5, id_col="doc_id")
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )
    scores = with_text_stats(docs).select(
        "doc_id", F.round("quality_score", 6).alias("quality")
    )
    members = comp.join(scores, "doc_id")
    out = canonical_selection(members, score_col="quality")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("component").cast("long").alias("component"),
        F.col("quality"),
        F.col("canonical_id").cast("long").alias("canonical_id"),
        F.col("keep"),
    ).orderBy("doc_id")


def q_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (the Lee et al. duplicated-span
    modality): maximal verbatim character spans >= 40 chars shared
    between two docs, from consecutive runs of shared char-24-grams on
    one diagonal.  Pure Catalyst; the oracle recomputes the same
    grams/runs in DuckDB (raw-substring keys — string equality is
    bytewise in both engines)."""
    from marker_spark.ops.dedup import duplicated_spans

    docs = _read(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, k=24, min_len=40, max_df=16, max_occ=64)
    return (
        spans.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("start_a").cast("long").alias("start_a"),
            F.col("start_b").cast("long").alias("start_b"),
            F.col("span_len").cast("long").alias("span_len"),
        )
        .orderBy(F.desc("span_len"), "doc_a", "doc_b", "start_a", "start_b")
        .limit(20)
    )


def q_duplicated_token_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-granularity duplicated spans (runs of >= 10 shared words
    from 6-word shingle diagonal runs) — the unit Lee et al. operate
    on.  Same exact-oracle machinery as the char variant; the shingle
    string is the cross-engine join key."""
    from marker_spark.ops.dedup import duplicated_token_spans

    docs = _read(spark, sf_dir, "documents")
    spans = duplicated_token_spans(docs, k=6, min_len=10, max_df=16, max_occ=64)
    return (
        spans.select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("start_a").cast("long").alias("start_a"),
            F.col("start_b").cast("long").alias("start_b"),
            F.col("span_len").cast("long").alias("span_words"),
        )
        .orderBy(F.desc("span_words"), "doc_a", "doc_b", "start_a", "start_b")
        .limit(20)
    )


def q_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of substring dedup: cut every duplicated span
    out of its doc_b (doc_a = lower id keeps the canonical copy),
    rebuilding text pure-Catalyst (island-merge + complement segments +
    ordered concat).  The oracle rebuilds the SAME texts in DuckDB —
    the value hash covers the full cleaned strings, so the gate is
    byte-exact on the surgery itself."""
    from marker_spark.ops.dedup import duplicated_spans, remove_duplicated_spans

    docs = _read(spark, sf_dir, "documents")
    spans = duplicated_spans(docs, k=24, min_len=40, max_df=16, max_occ=64)
    removed = remove_duplicated_spans(docs, spans)
    affected = spans.select(F.col("doc_b").alias("doc_id")).distinct()
    return (
        removed.join(affected, "doc_id", "left_semi")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars_before").cast("long").alias("n_chars_before"),
            F.col("n_chars_after").cast("long").alias("n_chars_after"),
            "text",
        )
        .orderBy(
            F.desc(F.col("n_chars_before") - F.col("n_chars_after")), "doc_id"
        )
        .limit(20)
    )


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep as ONE composed query: quality
    filter (pure-Catalyst text stats) -> exact dedup (keep the min-id
    doc per text) -> per-source deterministic bottom-k sample.  The
    whole composition carries an exact DuckDB oracle (quality formula,
    dedup window, and md5 sample rank all replicate), gating the
    pipeline a real corpus-prep user would run — not just its stages in
    isolation."""
    from pyspark.sql import Window

    from marker_spark.ops.sample import stratified_bottom_k
    from marker_spark.ops.text import with_text_stats

    docs = _read(spark, sf_dir, "documents")
    # round before thresholding so the boundary compare can't split on
    # sub-1e-6 float differences between engines
    quality = with_text_stats(docs).where(F.round("quality_score", 6) >= 0.5)
    w = Window.partitionBy("text").orderBy("doc_id")
    unique = (
        quality.withColumn("__rep", F.row_number().over(w))
        .where(F.col("__rep") == 1)
        .drop("__rep")
    )
    sampled = stratified_bottom_k(unique, k_per_group=3, group_col="source", id_col="doc_id")
    return sampled.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        F.round("quality_score", 6).alias("quality"),
    ).orderBy("source", "doc_id")


def q_corpus_prep_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lee-et-al. substring-dedup pipeline composed as ONE
    oracle-gated query — the artifact a real training-data pipeline
    ships (mirrors ``jobs/dedup_pipeline.py --excise``): Gopher quality
    filter -> duplicated_spans on the surviving corpus ->
    remove_duplicated_spans (span excision) -> eval-set
    decontamination (drop cleaned docs sharing an 8-word shingle with
    the md5-bottom-20 benchmark docs).  Every stage is individually
    oracle-green; this gates their COMPOSITION, with the value hash
    covering the final cleaned texts byte-for-byte.

    Scale shape: each stage keeps its own 100 TB plan (pure-Catalyst
    signals, capped gram pair join, broadcast benchmark shingles);
    the composition adds no new shuffle beyond a doc_id-keyed join
    per hand-off."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.dedup import duplicated_spans, remove_duplicated_spans
    from marker_spark.ops.text import (
        gopher_pass_col,
        with_gopher_signals,
        word_shingles_expr,
        words_col,
    )

    docs = _read(spark, sf_dir, "documents")
    # stage 1: Gopher filter (fixture word band, as q_gopher_quality)
    kept = register(
        with_gopher_signals(spread_thin(docs))
        .where(gopher_pass_col(min_words=30))
        .select("doc_id", "source", "text")
        .persist()
    )
    # stages 2+3: span detection on the FILTERED corpus, then excision;
    # source rides the removal via carry_cols instead of a second
    # corpus-wide join back onto the cleaned table
    spans = duplicated_spans(kept, k=24, min_len=40, max_df=16, max_occ=64)
    cleaned = register(
        remove_duplicated_spans(kept, spans, carry_cols=("source",)).persist()
    )
    # stage 4: decontamination — benchmark = md5-bottom-20 of the
    # ORIGINAL corpus (an external eval suite stand-in; its shingles
    # come from the original texts), training = cleaned minus benchmark
    bench_ids = _md5_bottom_ids(docs, 20)
    bench_grams = (
        docs.where(F.col("doc_id").isin(bench_ids))
        .withColumn("__w", words_col(F.col("text")))
        .select(F.explode(word_shingles_expr("__w", 8)).alias("g"))
        .distinct()
    )
    train = cleaned.where(~F.col("doc_id").isin(bench_ids))
    contaminated = (
        train.withColumn("__w", words_col(F.col("text")))
        .select("doc_id", F.explode(word_shingles_expr("__w", 8)).alias("g"))
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    final = train.join(contaminated, "doc_id", "left_anti")
    return (
        final.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("n_chars_before").cast("long").alias("n_chars_before"),
            F.col("n_chars_after").cast("long").alias("n_chars_after"),
            "text",
        )
        .orderBy(F.desc(F.col("n_chars_before") - F.col("n_chars_after")), "doc_id")
        .limit(20)
    )


_BP_HEADER = (
    "=== STANDARD LICENSE HEADER v2.1: redistribution and use of this "
    "document are permitted under the common corpus terms. ===\n"
)


def q_boilerplate_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-DF boilerplate spans detected AND excised — the region the
    pair path's ``max_df`` frequency cap exempts by construction.  The
    fixture corpus has no >16-doc verbatim span (measured: max 24-gram
    df is 5), so a license-header stand-in is deterministically
    prepended to every doc_id % 3 == 0 (the pii_redaction augmentation
    pattern), giving the header grams df ≈ n_docs/3 >> 16.  The value
    hash covers the cleaned text byte-for-byte plus per-doc span
    stats: the header must be detected in, and excised from, EVERY
    carrying doc — there is no canonical keeper for boilerplate.

    Scale shape: hot grams are few DISTINCT strings (bounded top-k,
    broadcast); no pair join touches them (marker_spark/ops/dedup.py
    ``boilerplate_spans``)."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.dedup import boilerplate_spans, remove_duplicated_spans

    docs = _read(spark, sf_dir, "documents")
    aug = register(
        spread_thin(docs).select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(_BP_HEADER), F.coalesce(F.col("text"), F.lit(""))),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        ).persist()
    )
    spans = register(
        boilerplate_spans(aug, k=24, min_len=40, max_df=16).persist()
    )
    cleaned = remove_duplicated_spans(
        aug,
        spans.select(
            F.col("doc_id").alias("doc_b"),
            F.col("start").alias("start_b"),
            "span_len",
        ),
    )
    stats = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("span_chars"),
    )
    return (
        cleaned.join(stats, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("span_chars").cast("long").alias("span_chars"),
            F.col("n_chars_before").cast("long").alias("n_chars_before"),
            F.col("n_chars_after").cast("long").alias("n_chars_after"),
            "text",
        )
        .orderBy("doc_id")
    )


def q_media_metadata_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First driver-certifiable multimodal row: container-metadata
    extraction over REAL MP3 frame streams / MP4 box trees whose
    parameters are pure index arithmetic (no RNG), so a SQL engine can
    compute the expected parse output from formulas alone.  The hash
    gate certifies that the distributed frame-walk/box-walk of real
    binary payloads recovers exactly the formula-defined metadata.
    Durations are emitted as integer milliseconds and NULL numerics as
    -1 (cross-engine NULL doubles are not hash-comparable)."""
    from marker_spark.ops.multimodal import (
        probe_media_meta,
        synth_container_assets_formula,
    )

    assets = synth_container_assets_formula(spark, n=24)
    meta = probe_media_meta(assets)
    return meta.select(
        "asset_id",
        "container",
        F.coalesce(F.col("n_frames").cast("long"), F.lit(-1)).alias("n_frames"),
        F.coalesce(F.col("bitrate_kbps").cast("long"), F.lit(-1)).alias(
            "bitrate_kbps"
        ),
        F.round(F.col("duration_s") * 1000).cast("long").alias("duration_ms"),
        F.coalesce(F.col("n_video_tracks").cast("long"), F.lit(-1)).alias(
            "n_video_tracks"
        ),
        F.coalesce(F.col("n_audio_tracks").cast("long"), F.lit(-1)).alias(
            "n_audio_tracks"
        ),
    ).orderBy("asset_id")


def q_shard_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-level deterministic shuffle + balanced shard layout
    (ops/pack.shard_assignments): per-shard doc counts (within 1 of
    each other by construction), position ranges, and an id checksum.
    Exact oracle: DuckDB replays the identical md5('42:'||id) global
    rank and round-robin layout; per-doc (shard, pos) parity is
    additionally pinned by tests/test_pack.py."""
    from marker_spark.ops.pack import shard_assignments

    docs = _read(spark, sf_dir, "documents")
    return (
        shard_assignments(docs, n_shards=16, seed=42)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("pos").alias("min_pos"),
            F.max("pos").alias("max_pos"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .orderBy("shard")
    )


def q_curriculum_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum mixing (ops/sample.weighted_interleave): three
    sources at 2:1:1 weights interleaved by stride scheduling; reports
    each source's count in the first-40 training prefix (proportions
    within 1 of 20/10/10 by construction while supply lasts — the
    smallest fixture has 25 docs per source) plus its first doc id.
    Exact oracle: DuckDB replays the same md5 per-source ranks and
    IEEE-double i/w virtual times; full-stream ordering parity is
    additionally pinned by tests/test_sample.py."""
    from marker_spark.ops.sample import weighted_interleave

    docs = _read(spark, sf_dir, "documents")
    mixed = weighted_interleave(
        docs, {"src0": 0.5, "src1": 0.25, "src2": 0.25}, salt="s42"
    )
    prefix = mixed.orderBy("mix_vt", "source", "doc_id").limit(40)
    return (
        prefix.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_in_prefix"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .orderBy("source")
    )


def q_marker_membership_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact oracle of the Bloom time-range lookup: which early-window
    markers reappear in the late window (semi-join form)."""
    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    t0 = 1_704_067_200
    day = 86_400
    early = ev.where(F.unix_timestamp("ts") < t0 + 10 * day).select(
        "event_type", F.col("props").alias("marker")
    ).distinct()
    late = ev.where(F.unix_timestamp("ts") >= t0 + 20 * day).select(
        F.col("props").alias("marker")
    ).distinct()
    return (
        early.join(late, "marker", "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_markers_reappearing"))
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (the custom temporal operator Spark lacks as
    a built-in): each click event picks up the latest same-user
    purchase at-or-before it.  Our union+window plan (ONE keyed
    shuffle, payload carried with last-ignorenulls) is gated against
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — an independent reference
    implementation, not a re-expression of ours.  No-match probes
    surface as -1 sentinels (cross-engine NULL-double repr differs)."""
    from marker_spark.ops.temporal import asof_join

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, purchases, "user_id", "ts", ["value"])
    return joined.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        F.round(F.coalesce("value_asof", F.lit(-1.0)), 6).alias("value_asof"),
        F.coalesce(F.unix_micros(F.col("ts_asof").cast("timestamp")), F.lit(-1)).alias("purchase_us"),
    ).orderBy("event_id")


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click picks up the EARLIEST same-user
    purchase at-or-after it (the reversed-sort twin of `asof_join`),
    gated against DuckDB's native ASOF with the inequality flipped."""
    from marker_spark.ops.temporal import asof_join

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(
        clicks, purchases, "user_id", "ts", ["value"], direction="forward"
    )
    return joined.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("click_us"),
        F.round(F.coalesce("value_asof", F.lit(-1.0)), 6).alias("value_asof"),
        F.coalesce(F.unix_micros(F.col("ts_asof").cast("timestamp")), F.lit(-1)).alias("purchase_us"),
    ).orderBy("event_id")


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (gaps-and-islands over the event
    stream, 6h inactivity gap): one shuffle on user_id, two window
    passes, exact epoch-microsecond bounds so the gate is integer-
    exact.  Largest sessions first."""
    from marker_spark.ops.temporal import sessionize

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    s = sessionize(ev, "user_id", "ts", gap_s=21600)
    return (
        s.select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("session").cast("long").alias("session"),
            F.col("n_events").cast("long").alias("n_events"),
            "start_us",
            "end_us",
            "duration_us",
        )
        .orderBy(F.desc("n_events"), "user_id", "session")
        .limit(20)
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join via time bucketization (the
    non-equi join the brief names as a custom operator): each user's
    error events land in the user's 1-day-gap CLICK sessions.  The
    bucketized plan turns the inequality condition into an equi-join on
    (day bucket, user) — O(|P|+|I|·overlap) shuffle instead of a
    nested-loop filter; the DuckDB oracle runs the plain inequality
    join, an independent implementation of the same semantics.
    Sessions per user are disjoint, so each error matches <= 1."""
    from marker_spark.ops.temporal import interval_join, sessionize

    _utc(spark)
    ev = _read(spark, sf_dir, "events")
    sessions = sessionize(
        ev.where(F.col("event_type") == "click"), "user_id", "ts", gap_s=86400
    )
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("err_us"),
    )
    joined = interval_join(
        errors, sessions, "err_us", "start_us", "end_us",
        bucket_s=86400, key_col="user_id",
    )
    return joined.select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        "err_us",
        "start_us",
        "end_us",
    ).orderBy("event_id", "start_us")


def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus sizing under a token budget — "take the best docs until
    N tokens": rank by (round-6 Gopher quality DESC, doc_id), keep a
    doc iff the higher-ranked total is < budget (the straddling doc is
    kept).  Runs :func:`marker_spark.ops.pack.budget_selection` — the
    distributed prefix-sum plan (repartitionByRange + O(partitions)
    driver rows + within-partition window), never a single-partition
    global window.  Full DuckDB oracle (plain single-threaded window
    cumsum over the corpus_prep quality formula) runs verbatim in
    tests/test_retired_oracles.py (driver window full at 50/50)."""
    from marker_spark.ops.pack import budget_selection
    from marker_spark.ops.text import with_text_stats

    docs = _read(spark, sf_dir, "documents")
    stats = with_text_stats(docs).select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_tok"),
        F.round("quality_score", 6).alias("quality"),
    )
    kept = budget_selection(stats, "n_tok", budget=1000, score_col="quality")
    return (
        kept.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("quality"),
            F.col("cum_before").cast("long").alias("cum_before"),
        )
        .orderBy(F.desc("quality"), "doc_id")
        .limit(50)
    )


def q_source_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-aware corpus sizing: the best docs until 500 tokens
    of EACH source — :func:`marker_spark.ops.pack.group_budget_selection`,
    the per-group distributed prefix sum (range-partitioned on (group,
    rank), O(partitions x groups) driver rows, within-partition
    window; never one task per source).  Full DuckDB oracle (per-group
    window cumsum) runs verbatim in tests/test_retired_oracles.py."""
    from marker_spark.ops.pack import group_budget_selection
    from marker_spark.ops.text import with_text_stats

    docs = _read(spark, sf_dir, "documents")
    stats = with_text_stats(docs).select(
        "doc_id",
        "source",
        F.col("n_words").cast("long").alias("n_tok"),
        F.round("quality_score", 6).alias("quality"),
    )
    kept = group_budget_selection(
        stats, "n_tok", 500, score_col="quality", group_col="source"
    )
    return (
        kept.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "source",
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("quality"),
            F.col("cum_before").cast("long").alias("cum_before"),
        )
        .orderBy("source", F.desc("quality"), "doc_id")
        .limit(50)
    )


def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the final pre-training data
    stage: cut the deterministically-ordered token stream into
    512-token training bins).  The Spark plan is the DISTRIBUTED prefix
    sum — range partition on the order key, bounded per-partition
    offsets, within-partition window — never a single-task global
    window; the oracle replays the plain cumsum."""
    from marker_spark.ops.pack import pack_sequences
    from marker_spark.ops.text import words_col

    docs = _read(spark, sf_dir, "documents")
    # coalesce BEFORE the word split: size(words_col(NULL)) is NULL,
    # which the window sum would skip while the oracle counts 0
    with_n = docs.select(
        "doc_id",
        F.size(words_col(F.coalesce(F.col("text"), F.lit("")))).alias("n_tok"),
    )
    packed = pack_sequences(with_n, "n_tok", id_col="doc_id", budget=512)
    return (
        packed.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_tok").cast("long").alias("n_tok"),
            F.col("start_tok").cast("long").alias("start_tok"),
            F.col("first_bin").cast("long").alias("first_bin"),
            F.col("last_bin").cast("long").alias("last_bin"),
        )
        .orderBy("start_tok", "doc_id")
        .limit(50)
    )


def q_window_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window function coverage: top-2 orders per customer."""
    from pyspark.sql import Window

    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 2)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 4).alias("totalprice"),
            "rn",
        )
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operation coverage: customers ordering in both/only-one half
    of the order-date range (intersect / except / union counts) —
    computed as ONE membership aggregation (single scan, single
    shuffle, single job) instead of three driver-side actions that
    would rebuild the intersection twice."""
    orders = _read(spark, sf_dir, "orders")
    cut = "1998-01-01"
    membership = orders.groupBy("o_custkey").agg(
        F.max((F.col("o_orderdate") < cut).cast("int")).alias("in_a"),
        F.max((F.col("o_orderdate") >= cut).cast("int")).alias("in_b"),
    )
    both = (F.col("in_a") == 1) & (F.col("in_b") == 1)
    first_only = (F.col("in_a") == 1) & (F.col("in_b") == 0)
    either = (F.col("in_a") == 1) | (F.col("in_b") == 1)
    return membership.agg(
        F.count(F.when(both, 1)).alias("n_both"),
        F.count(F.when(first_only, 1)).alias("n_first_only"),
        F.count(F.when(either, 1)).alias("n_union"),
    )


# ---------------------------------------------------------------------------
# sketch / hash-dependent queries (rows-only checks)
# ---------------------------------------------------------------------------

def _tokenized_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.tokenize import tokenize_documents

    return tokenize_documents(_read(spark, sf_dir, "documents"))


def q_bloom_ngram_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build one Bloom over every doc's 3-grams; self-probe each doc
    against it (the zero-key form of the sketch-table probe)."""
    from marker_spark.api import bloom_agg
    from marker_spark.cacheutil import register
    from marker_spark.probe import probe_sketch_table

    tok = register(_tokenized_docs(spark, sf_dir).cache())
    table = bloom_agg(tok, capacity=2_000_000, fp=0.001, ngram=3)
    out = (
        probe_sketch_table(tok, table, [], token_col="tokens")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum(F.col("found").cast("long")).alias("n_docs_found"))
    )
    return out


def q_hll_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct 3-gram estimates, finalized in the merge
    task (no sketch-state collect to the driver)."""
    from marker_spark.api import hll_agg

    tok = _tokenized_docs(spark, sf_dir)
    return hll_agg(
        tok, group_cols=["source"], precision=14, ngram=3,
        finalize=lambda sk: {"est_distinct_ngrams": int(round(sk.estimate()))},
        finalize_schema="est_distinct_ngrams long",
    ).orderBy("source")


def q_cms_heavy_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMS frequency estimates for the exact top-20 tokens.  The probe
    list (20 driver-known token ids) ships INTO the merge task's
    finalize closure, which emits the estimate vector — the merged CMS
    grid never leaves the executor (r2 collected + queried it on the
    driver)."""
    import numpy as np

    from marker_spark.api import cms_agg

    from marker_spark.cacheutil import register

    tok = register(_tokenized_docs(spark, sf_dir).cache())
    top = (
        tok.select(F.explode("tokens").alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.col("token")).limit(20).toPandas()
    )  # bounded driver data: exactly 20 (token, count) rows
    probe = top["token"].to_numpy().astype("<i4").reshape(-1, 1).view(np.uint8).reshape(-1, 4)

    def finalize(sk):
        return {"cms_cnt": [int(c) for c in sk.query_fixed_width(probe)]}

    res = cms_agg(
        tok, depth=5, width=1 << 15, ngram=1,
        finalize=finalize, finalize_schema="cms_cnt array<long>",
    )
    tok_arr = F.array(*[F.lit(int(t)) for t in top["token"]])
    exact_arr = F.array(*[F.lit(int(c)) for c in top["exact_cnt"]])
    return (
        res.withColumn("token", tok_arr)
        .withColumn("exact_cnt", exact_arr)
        .select(F.explode(F.arrays_zip("token", "exact_cnt", "cms_cnt")).alias("z"))
        .select(
            F.col("z.token").cast("int").alias("token"),
            F.col("z.exact_cnt").cast("long").alias("exact_cnt"),
            F.col("z.cms_cnt").cast("long").alias("cms_cnt"),
        )
    )


def q_kll_ntok_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length quantile estimates, finalized in the merge task: the
    quantile vector is emitted as array columns and exploded to rows —
    no KLL state is ever deserialized on the driver (r2 used
    collect_sketch)."""
    from marker_spark.api import kll_agg

    qs = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]

    def finalize(sk):
        return {
            "q": [float(q) for q in qs],
            "est_n_tok": [float(e) for e in sk.quantile(qs)],
        }

    tok = _tokenized_docs(spark, sf_dir)
    res = kll_agg(
        tok, "n_tok", k=256,
        finalize=finalize, finalize_schema="q array<double>, est_n_tok array<double>",
    )
    return res.select(F.explode(F.arrays_zip("q", "est_n_tok")).alias("z")).select(
        F.col("z.q").alias("q"), F.col("z.est_n_tok").alias("est_n_tok")
    )


def q_tdigest_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type t-digest quantiles, finalized in the merge task
    (no sketch-state collect to the driver)."""
    from marker_spark.api import tdigest_agg

    ev = _read(spark, sf_dir, "events")
    return tdigest_agg(
        ev, "value", group_cols=["event_type"], delta=200,
        finalize=lambda sk: {
            "p50_est": round(float(sk.quantile(0.5)), 2),
            "p90_est": round(float(sk.quantile(0.9)), 2),
        },
        finalize_schema="p50_est double, p90_est double",
    ).orderBy("event_type")


def q_mg_heavy_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters WITHOUT a known candidate set: a distributed
    Misra-Gries summary (k=256) over word hashes finds the candidates
    (every word with frequency > N/257 is guaranteed present), then ONE
    exact count pass restricted to the candidate IN-list ranks them —
    so the final answer is exact and shares top_words' SQL oracle.  At
    corpus scale the exact pass scans once with a tiny broadcast
    filter; the naive alternative (exact groupBy over ALL words) pays a
    full-vocabulary shuffle."""
    from marker_spark.agg import collect_sketch
    from marker_spark.api import mg_agg
    from marker_spark.ops.text import words_col
    from marker_spark.sketches.misra_gries import MisraGriesSketch

    docs = _read(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(words_col(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
        .withColumn("wid", F.xxhash64("word"))
        .cache()
    )
    from marker_spark.cacheutil import register

    register(words)

    mg = collect_sketch(mg_agg(words, "wid", k=256), MisraGriesSketch)
    cand = [int(x) for x in mg.items]
    ranked = (
        words.where(F.col("wid").isin(cand))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.col("word"))
    )
    top = ranked.limit(20)
    # Exactness certificate: any word ABSENT from the MG summary has
    # true count <= mg.offset, so if the 20th candidate's exact count
    # beats the offset the top-20 is provably exact.  Flatter corpora
    # (cnt_20 <= offset) fall back to the full exact groupBy — always
    # correct, just without the candidate-pruned scan.
    rows20 = top.collect()
    if len(rows20) < 20 or rows20[-1]["cnt"] <= mg.error_bound:
        return (
            words.groupBy("word")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("word"))
            .limit(20)
        )
    return top


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.dedup import lsh_candidate_pairs, minhash_signatures

    docs = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_perm=128, shingle=3)
    return lsh_candidate_pairs(sigs, bands=32, rows_per_band=4).orderBy("id_a", "id_b")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.dedup import simhash_fingerprints, simhash_near_dup_pairs

    docs = _read(spark, sf_dir, "documents")
    fp = simhash_fingerprints(docs, shingle=2)
    return simhash_near_dup_pairs(fp, max_hamming=3).orderBy("id_a", "id_b")


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN at FULL probe (probe_hamming = n_planes):
    every bucket is scanned, so the result is exactly the brute-force
    top-k and shares the kNN oracle — gating the signature + bucket
    machinery end to end.  Partial-probe recall-vs-scan-fraction is
    gated in tests/test_api.py (the synthetic embeddings are
    near-orthogonal, so partial-probe recall is data-bounded, not
    implementation-bounded)."""
    from marker_spark.ops.similarity import hyperplane_signatures, lsh_topk

    emb = _read(spark, sf_dir, "embeddings")
    query = _probe_vector(emb, vec_id=0)
    dim = len(query)
    with_buckets = hyperplane_signatures(emb, dim=dim, n_planes=12)
    return lsh_topk(
        with_buckets, query, k=10, n_planes=12, probe_hamming=12
    )


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate subword (BPE-ish) token budgeting per source: GPT2-ish
    pre-token counts vs whitespace word counts — pure Catalyst regex
    (marker_spark/ops/text.py::bpe_ish_token_count_col), exact DuckDB
    oracle with the identical RE2/Java-compatible pattern."""
    from marker_spark.ops.text import bpe_ish_token_count_col, words_col

    docs = _read(spark, sf_dir, "documents")
    n_bpe = bpe_ish_token_count_col("text")
    n_words = F.size(words_col(F.col("text")))
    return (
        docs.select("source", n_bpe.alias("n_bpe"), n_words.alias("n_words"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
            F.sum("n_words").cast("long").alias("total_words"),
            F.round(F.avg("n_bpe"), 6).alias("avg_bpe_tokens"),
            F.round(
                F.sum("n_bpe") / F.greatest(F.sum("n_words"), F.lit(1)), 6
            ).alias("bpe_per_word"),
        )
    )


def q_bpe_learned_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL learned-BPE tokenization (vs the regex pre-token counter
    above): train a merge table on a deterministic bounded sample
    (md5 bottom-k docs, driver-side incremental-pair-count trainer),
    broadcast the ranks, apply distributed via the Arrow-batched
    memoized encoder, and report the top subword tokens.  Rows-only
    driver check (a learned merge table is not SQL-expressible);
    tests/test_bpe.py golden-gates the trainer and encoder against a
    naive reference implementation."""
    from marker_spark.ops.bpe import bpe_tokens_col, train_bpe_from_df

    docs = _read(spark, sf_dir, "documents")
    merges = train_bpe_from_df(docs, n_merges=200, sample_docs=1_000)
    toks = bpe_tokens_col(docs, merges)
    return (
        toks.select(F.explode("bpe_tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), "token")
        .limit(20)
    )


def q_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic bottom-k sample: md5-rank ids, keep the 50 smallest
    — uniform, mergeable (TakeOrderedAndProject), rerun-stable, and
    exactly SQL-oracle-able (md5 agrees between Spark and DuckDB)."""
    from marker_spark.ops.sample import bottom_k_sample

    docs = _read(spark, sf_dir, "documents")
    return bottom_k_sample(docs, k=50, id_col="doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source", "lang"
    )


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic sample: 3 md5-smallest docs per source."""
    from marker_spark.ops.sample import stratified_bottom_k

    docs = _read(spark, sf_dir, "documents")
    return stratified_bottom_k(docs, k_per_group=3, group_col="source", id_col="doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )


def q_winnowing_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) near-dup candidates: Karp-Rabin rolling hash
    over char 8-grams, window-4 minima, pairs sharing >= 3 fingerprints.
    Guarantees any shared substring of length >= 11 chars yields a
    shared fingerprint.  Rolling hash is engine-specific -> rows-only;
    the MOSS properties are gated in tests/test_dedup_ops.py."""
    from marker_spark.ops.text import winnowing_dup_pairs, winnowing_fingerprints

    docs = _read(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs, k=8, window=4)
    # max_df: stop-fingerprint cap (boilerplate shared by everything
    # would fan out quadratically on one join key at corpus scale)
    return winnowing_dup_pairs(fps, min_shared=3, max_df=200).orderBy("id_a", "id_b")


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination — the canonical pre-training hygiene
    pass: flag training documents sharing any 8-word shingle with a
    held-out benchmark set.  The benchmark here is the deterministic
    md5-bottom-20 docs (standing in for an eval suite).

    Scale shape — no corpus-sided join anywhere: the 20 benchmark ids
    are a bounded driver collect (one scan, reused as an IN-list on
    every branch — not three recomputed TakeOrdered subtrees); the
    benchmark's distinct shingles BROADCAST into a left-semi join the
    training shingles stream through; and both report terms are
    per-source AGGREGATES (contaminated doc counts from the semi-join
    output, totals from the corpus) joined only at per-source size.
    Exact oracle: same shingles, same sample rank, same flags."""
    from marker_spark.ops.text import word_shingles_expr, words_col

    docs = _read(spark, sf_dir, "documents")
    bench_ids = _md5_bottom_ids(docs, 20)
    with_w = docs.withColumn("__w", words_col(F.col("text")))
    sh = lambda df: df.select(  # noqa: E731
        F.col("doc_id"),
        F.col("source"),
        F.explode(word_shingles_expr("__w", 8)).alias("g"),
    )
    bench_grams = (
        sh(with_w.where(F.col("doc_id").isin(bench_ids))).select("g").distinct()
    )
    train = with_w.where(~F.col("doc_id").isin(bench_ids))
    contaminated_per_source = (
        sh(train)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_contaminated"))
    )
    totals = train.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return (
        totals.join(contaminated_per_source, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
        )
        .orderBy("source")
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality report (Rae et al. 2021 table A1, the filter
    family FineWeb/Dolma pipelines run before dedup): per-source pass
    counts plus averaged signals — every signal a deterministic
    Catalyst expression, whole report exactly oracle-able."""
    from marker_spark.ops.text import gopher_pass_col, with_gopher_signals

    docs = _read(spark, sf_dir, "documents")
    sig = with_gopher_signals(docs)
    return (
        sig.withColumn("ok", gopher_pass_col(min_words=30).cast("int"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("ok").cast("long").alias("n_pass"),
            F.round(F.avg("mean_word_len"), 4).alias("avg_word_len"),
            F.round(F.avg("alpha_word_frac"), 4).alias("avg_alpha_frac"),
            F.round(F.avg("symbol_word_ratio"), 4).alias("avg_symbol_ratio"),
            F.round(F.avg("dup_line_frac"), 4).alias("avg_dup_line_frac"),
        )
        .orderBy("source")
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (Dolma/FineWeb hygiene pass) under an exact gate.  The
    synthetic fixture contains no PII, so the query first AUGMENTS every
    5th doc with a deterministic email + phone + IPv4 (both engines
    apply the identical expression — this is fixture construction, not
    operator logic), then runs :func:`redact_pii`: RE2-compatible
    patterns, counts per stage, placeholders substituted.  Map-only
    plan, no shuffle; the value hash covers the redacted texts."""
    from marker_spark.ops.text import redact_pii

    docs = _read(spark, sf_dir, "documents")
    aug = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 555-123-4567 node 10.0.0."),
                (F.col("doc_id") % 256).cast("string"),
            ),
        ).otherwise(F.col("text")),
    )
    red = redact_pii(aug)
    return (
        red.where((F.col("n_email") + F.col("n_phone") + F.col("n_ip")) > 0)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_email").cast("long").alias("n_email"),
            F.col("n_phone").cast("long").alias("n_phone"),
            F.col("n_ip").cast("long").alias("n_ip"),
            F.col("text_redacted"),
        )
        .orderBy("doc_id")
        .limit(20)
    )


def q_lm_quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/FineWeb-style LM quality scoring under an exact gate:
    train an add-1 bigram LM on the deterministic md5-bottom-100
    reference docs, score every doc's cross-entropy under it
    (:func:`lm_bigram_scores` — reference counts broadcast, corpus
    streams through two broadcast joins).  Highest-entropy (least
    reference-like) docs surface first."""
    from marker_spark.ops.text import lm_bigram_scores

    docs = _read(spark, sf_dir, "documents")
    ref_ids = _md5_bottom_ids(docs, 100)
    scores = lm_bigram_scores(docs, docs.where(F.col("doc_id").isin(ref_ids)))
    return (
        scores.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_bigrams").cast("long").alias("n_bigrams"),
            F.col("cross_entropy"),
        )
        .orderBy(F.desc("cross_entropy"), "doc_id")
        .limit(20)
    )


def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-weighted data selection (Xie et al. 2023):
    target domain = the deterministic md5-bottom-50 docs, features =
    hashed word bigrams (md5-prefix buckets, B=1024), weight = summed
    smoothed log-likelihood ratio, draw = seeded Gumbel top-k.  Every
    stage is the md5-replay recipe, so the full pipeline replays in
    DuckDB — the exact oracle runs verbatim in
    tests/test_retired_oracles.py (rows-only here: the driver window
    is full at 50/50).  Plan shape: B-row ratio table broadcast, corpus
    streams map-only, TakeOrdered selection (plan-asserted in
    tests/test_plans.py)."""
    from marker_spark.ops.dsir import (
        dsir_importance_weights,
        dsir_log_ratio_table,
        dsir_select,
    )

    docs = _read(spark, sf_dir, "documents")
    target_ids = _md5_bottom_ids(docs, 50)
    ratio = dsir_log_ratio_table(
        docs, docs.where(F.col("doc_id").isin(target_ids)),
        n=2, buckets=1024, alpha=1.0,
    )
    weights = dsir_importance_weights(docs, ratio, n=2, buckets=1024)
    return dsir_select(weights, k=20, salt="dsir-r9").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round("log_w", 6).alias("log_w"),
        "gumbel_key",
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher's repetition signals (the other half of its quality
    family), with UNION semantics so each word counts once: per doc,
    the fraction of word positions covered by occurrences of the most
    common word 2-gram (deterministic tie-break: count desc, bigram
    asc) and by ALL word 3-grams occurring >= 2 times.  Fractions are
    therefore true fractions (<= 1), comparable to published
    thresholds.  Pure Catalyst; the oracle replicates
    formula-for-formula."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.text import words_col
    from pyspark.sql import Window

    docs = _read(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    base = docs.select(
        "source",
        F.col("doc_id"),
        words.alias("__w"),
        F.greatest(F.size(words), F.lit(1)).alias("n_words"),
    )

    from marker_spark.ops.text import word_shingles_expr

    def grams(n):
        return base.select(
            "source",
            "doc_id",
            "n_words",
            F.posexplode(word_shingles_expr("__w", n)).alias("idx", "g"),
        ).select("source", "doc_id", "n_words", (F.col("idx") + 1).alias("pos"), "g")

    big = register(grams(2).persist())
    counts2 = big.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), "g")
    top_g = (
        counts2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "g")
    )
    # union of word positions covered by the top bigram: {pos, pos+1}
    top_cov = (
        big.join(top_g, ["doc_id", "g"])
        .select("source", "doc_id", "n_words",
                F.explode(F.array("pos", F.col("pos") + 1)).alias("p"))
        .groupBy("source", "doc_id", "n_words")
        .agg(F.countDistinct("p").alias("covered"))
        .select(
            "source",
            "doc_id",
            F.round(F.col("covered") / F.col("n_words"), 6).alias("top_bigram_frac"),
        )
    )
    tri = register(grams(3).persist())
    dup_g = (
        tri.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("doc_id", "g")
    )
    tri_cov = (
        tri.join(dup_g, ["doc_id", "g"])
        .select("doc_id", "n_words",
                F.explode(F.array("pos", F.col("pos") + 1, F.col("pos") + 2)).alias("p"))
        .groupBy("doc_id", "n_words")
        .agg(F.countDistinct("p").alias("covered"))
        .select(
            "doc_id",
            F.round(F.col("covered") / F.col("n_words"), 6).alias("dup_trigram_frac"),
        )
    )
    per_doc = top_cov.join(tri_cov, "doc_id", "left").na.fill({"dup_trigram_frac": 0.0})
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("top_bigram_frac"), 4).alias("avg_top_bigram_frac"),
            F.round(F.avg("dup_trigram_frac"), 4).alias("avg_dup_trigram_frac"),
        )
        .orderBy("source")
    )


def _md5_perm_sigs(
    spark: SparkSession,
    sf_dir: str,
    num_perm: int = 16,
    docs: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, perm, sig) MinHash signature table with md5-keyed
    permutations: perm i's hash of a distinct 3-word shingle is
    md5('i:'||shingle), the signature is the per-perm minimum.  DuckDB
    replays the identical expression, so every consumer of this table
    (estimator agreement, LSH banding) carries an EXACT oracle.  The
    production MinHash keeps its vectorized splitmix64 permutations
    (rows-only); this is the cross-engine-replayable twin that proves
    the plumbing.  Caller persists/registers as needed; ``docs``
    overrides the documents table (deterministic-injection callers)."""
    from marker_spark.ops.text import word_shingles_expr, words_col

    if docs is None:
        docs = _read(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    src = docs.select(F.col("doc_id"), words.alias("__w")).where(F.size("__w") >= 3)
    sh = src.select(
        "doc_id",
        F.explode(word_shingles_expr("__w", 3)).alias("sh"),
    ).distinct()
    perms = sh.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(num_perm - 1))).alias("perm"),
        "sh",
    ).select(
        "doc_id", "perm", F.md5(F.concat_ws(":", F.col("perm"), F.col("sh"))).alias("h")
    )
    return perms.groupBy("doc_id", "perm").agg(F.min("h").alias("sig"))


def q_minhash_similarity_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash ESTIMATOR under an exact gate: md5-keyed permutation
    signatures (:func:`_md5_perm_sigs`), estimated Jaccard =
    agreeing-perm fraction — explode, per-perm min, pairwise agreement
    count proven byte-for-byte against DuckDB."""
    from marker_spark.cacheutil import register

    # persist: both self-join sides consume the signature table; the
    # distinct-shingle explode x16-perm md5 agg must not run twice
    sigs = register(_md5_perm_sigs(spark, sf_dir).persist())
    pairs = (
        sigs.alias("a")
        .join(sigs.alias("b"), ["perm", "sig"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_agree"))
        .where(F.col("n_agree") >= 8)  # est jaccard >= 0.5
    )
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("n_agree").cast("long").alias("n_agree"),
            F.round(F.col("n_agree") / 16.0, 6).alias("est_jaccard"),
        )
        .orderBy(F.desc("n_agree"), "id_a", "id_b")
        .limit(20)
    )


def q_minhash_lsh_pairs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH BANDING rule under an exact gate (the production
    `lsh_candidate_pairs` is rows-only because its splitmix64 signatures
    aren't SQL-replayable): md5-keyed permutation signatures
    (:func:`_md5_perm_sigs`) sliced into 4 bands x 4 rows, band hash =
    md5 of the band's signature values joined in perm order, candidate
    pairs = docs sharing >= 1 (band, band_hash).  Proves the banding
    kernel — slice, per-band hash, equi-join on the band key,
    cross-band pair dedup — byte-for-byte against DuckDB.  Same
    candidate-generation FP-tolerance discipline as the reference's
    lookup tests (/root/reference/DBAppUnitTests.cpp:108-125): the rule
    itself is deterministic, so the gate is exact."""
    from marker_spark.cacheutil import register

    sigs = _md5_perm_sigs(spark, sf_dir)
    # persist: the banded table feeds both self-join sides; without it
    # the shingle-explode x16-perm md5 subtree would run twice
    bands = register(
        sigs.groupBy("doc_id", F.expr("perm div 4").alias("band"))
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("perm", "sig"))),
                        lambda x: x["sig"],
                    ),
                )
            ).alias("band_hash")
        )
        .persist()
    )
    pairs = (
        bands.alias("a")
        .join(bands.alias("b"), ["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_bands"))
    )
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("n_bands").cast("long").alias("n_bands"),
        )
        .orderBy(F.desc("n_bands"), "id_a", "id_b")
        .limit(30)
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup against a persisted band index —
    the daily-crawl shape at 100 TB: the corpus ("old" = doc_id % 4 !=
    0) is banded ONCE into an index; the increment ("new" = doc_id % 4
    == 0) bands only itself, broadcast-joins the index, and emits only
    pairs touching a new doc — O(increment x bucket) per batch instead
    of re-running the O(corpus^2/buckets) discovery.  Runs the
    PRODUCTION kernel (:func:`marker_spark.ops.dedup.
    incremental_pairs_from_bands`, incl. the joint-size bucket cap)
    over md5-keyed signatures (:func:`_md5_perm_sigs`, 4 bands x 4
    rows, md5 band hash) so the rule replays exactly in SQL: the full
    DuckDB oracle (batch-with-cap over the union, restricted to
    new-involving pairs — the equivalence tests/test_incremental_dedup.py
    pins on production splitmix signatures) runs verbatim in
    tests/test_retired_oracles.py (the driver window is full at 50/50,
    so this ships rows-only like the other retired-oracle twins)."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.dedup import incremental_pairs_from_bands

    sigs = _md5_perm_sigs(spark, sf_dir)
    # persist: the index leg, the new leg, and the cap's size pass all
    # consume the banded table; without it the shingle-explode x16-perm
    # md5 subtree re-runs per consumer
    bands = register(
        sigs.groupBy("doc_id", F.expr("perm div 4").alias("band_id"))
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("perm", "sig"))),
                        lambda x: x["sig"],
                    ),
                )
            ).alias("band_hash")
        )
        .persist()
    )
    index = bands.where(F.col("doc_id") % 4 != 0)
    new_bands = bands.where(F.col("doc_id") % 4 == 0)
    pairs = incremental_pairs_from_bands(
        index, new_bands, max_bucket=4, broadcast_new=True
    )
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.when(
                (F.col("id_a") % 4 == 0) & (F.col("id_b") % 4 == 0), F.lit("new-new")
            )
            .otherwise(F.lit("cross"))
            .alias("link"),
        )
        .orderBy("id_a", "id_b")
        .limit(50)
    )


def q_incremental_dedup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-path twin of `incremental_dedup` (rows-only): real
    vectorized splitmix64 MinHash signatures, the same old/new split
    (doc_id % 4), index = banded old corpus, increment joins it via
    :func:`incremental_lsh_pairs` with the joint-size bucket cap.  The
    exact-gate sibling above proves the rule; this is the kernel a
    cluster actually runs (and the one the bench sweep times).
    Equivalence to the batch path is pinned on these signatures in
    tests/test_incremental_dedup.py."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.dedup import (
        incremental_lsh_pairs,
        lsh_band_table,
        minhash_signatures,
    )

    docs = _read(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, num_perm=128)
    # persist the index: the cross join AND the cap's size pass both
    # consume it, and without materialization each re-runs the
    # signature UDF subtree (in production the index is a table on
    # disk — the persist stands in for that read)
    index = register(
        lsh_band_table(sigs.where(F.col("doc_id") % 4 != 0)).persist()
    )
    new = sigs.where(F.col("doc_id") % 4 == 0)
    pairs, _ = incremental_lsh_pairs(index, new, max_bucket=200, broadcast_new=True)
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
        )
        .orderBy("id_a", "id_b")
        .limit(50)
    )


def q_band_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance (r10) — the dedup-index analogue of the
    reference cache's maybe_age (/root/reference/markercache.cpp:203):
    build the corpus band index (old docs, doc_id % 4 != 0, same md5
    band recipe as `incremental_dedup`), RETAIN doc_id % 3 != 1, and
    reclaim buckets whose retained size exceeds the cap into (band_id,
    band_hash, frozen_sz) tombstones
    (:func:`marker_spark.ops.dedup.compact_band_index`).  Output is the
    per-bucket summary: surviving buckets with their row counts,
    tombstoned buckets with their frozen sizes — fully SQL-expressible,
    full DuckDB oracle verbatim in tests/test_retired_oracles.py
    (driver window full at 50/50; pair-equivalence after compaction is
    pinned in tests/test_incremental_dedup.py).

    The fixture has no natural bucket above the cap (max retained
    bucket 3 at sf0.01), so the reclaim path gets a deterministic
    injection (the pii_redaction pattern, CLAUDE.md r6): every
    doc_id % 5 == 0 doc's text is replaced by one fixed sentence —
    those docs share every shingle, collapse into single band buckets
    of ~N/10 retained rows, and exercise the tombstone path at every
    sf."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.dedup import compact_band_index

    docs = _read(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("the quick brown fox jumps over the lazy dog again and again"),
        ).otherwise(F.col("text")),
    )
    sigs = _md5_perm_sigs(spark, sf_dir, docs=docs)
    bands = register(
        sigs.groupBy("doc_id", F.expr("perm div 4").alias("band_id"))
        .agg(
            F.md5(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("perm", "sig"))),
                        lambda x: x["sig"],
                    ),
                )
            ).alias("band_hash")
        )
        .persist()
    )
    index = bands.where(F.col("doc_id") % 4 != 0)
    keep = index.select("doc_id").where(F.col("doc_id") % 3 != 1).distinct()
    compacted, frozen = compact_band_index(index, keep, max_bucket=4)
    surviving = compacted.groupBy("band_id", "band_hash").agg(
        F.count(F.lit(1)).alias("n_rows")
    ).withColumn("frozen_sz", F.lit(0).cast("long"))
    tombstones = frozen.select(
        "band_id", "band_hash",
        F.lit(0).cast("long").alias("n_rows"),
        F.col("frozen_sz").cast("long"),
    )
    return (
        surviving.unionByName(tombstones)
        .select(
            F.col("band_id").cast("int").alias("band_id"),
            "band_hash",
            F.col("n_rows").cast("long").alias("n_rows"),
            "frozen_sz",
        )
        .orderBy(
            F.desc("frozen_sz"), F.desc("n_rows"), "band_id", "band_hash"
        )
        .limit(100)
    )


def q_simhash_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash banded Hamming join under an exact gate (the
    production `simhash_near_dup` is rows-only because its mmh3 shingle
    hashes aren't SQL-replayable): a 60-bit fingerprint built from
    md5 — each 2-word shingle occurrence contributes the first 15 hex
    digits of md5(shingle); per digit position the 4 bits are
    majority-voted over the doc's shingles (ones > half, the exact
    sign-of-±1-sum rule) and the reconstructed digits assemble the
    fingerprint via shift-or.  Pairs come from the same pigeonhole
    structure as production (4 bands x 15 bits: Hamming <= 3 implies
    >= 1 equal band), verified with bit_count(xor) — every stage
    replayable in DuckDB, so the gate is rows+schema+hash exact."""
    from marker_spark.cacheutil import register
    from marker_spark.ops.text import word_shingles_expr, words_col

    docs = _read(spark, sf_dir, "documents")
    words = words_col(F.col("text"))
    src = docs.select(F.col("doc_id"), words.alias("__w")).where(F.size("__w") >= 2)
    # ALL shingle occurrences (production semantics: repetition weighs
    # the vote), 15 digit positions each
    dig = (
        src.select("doc_id", F.explode(word_shingles_expr("__w", 2)).alias("sh"))
        .select("doc_id", F.md5("sh").alias("h"))
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.lit(15))).alias("p"),
            "h",
        )
        .select(
            "doc_id",
            "p",
            (F.expr("instr('0123456789abcdef', substring(h, p, 1))") - 1).alias("d"),
        )
    )
    votes = dig.groupBy("doc_id", "p").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("d % 2")).alias("s0"),
        F.sum(F.expr("(d div 2) % 2")).alias("s1"),
        F.sum(F.expr("(d div 4) % 2")).alias("s2"),
        F.sum(F.expr("(d div 8) % 2")).alias("s3"),
    )
    digit = (
        (F.col("s0") * 2 > F.col("n")).cast("int")
        + (F.col("s1") * 2 > F.col("n")).cast("int") * 2
        + (F.col("s2") * 2 > F.col("n")).cast("int") * 4
        + (F.col("s3") * 2 > F.col("n")).cast("int") * 8
    )
    fps = (
        votes.select("doc_id", "p", digit.alias("digit"))
        .select(
            "doc_id",
            F.expr("shiftleft(cast(digit as bigint), cast((p - 1) * 4 as int))").alias(
                "contrib"
            ),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").alias("fp"))
    )
    # persist: the banded table feeds both self-join sides
    banded = register(
        fps.select(
            "doc_id",
            "fp",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band"),
        )
        .select(
            "doc_id",
            "fp",
            "band",
            F.expr("shiftrightunsigned(fp, cast(band * 15 as int)) & 32767").alias(
                "band_val"
            ),
        )
        .persist()
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "band_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.fp").alias("fp_a"),
            F.col("b.fp").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= 3)
        .select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("hamming").cast("long").alias("hamming"),
        )
        .orderBy("hamming", "id_a", "id_b")
        .limit(40)
    )


def q_winnowing_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing semantics under an EXACT oracle: fingerprint set =
    distinct window-minimum md5 char-8-gram hashes (window 4), pairs
    sharing >= 3 fingerprints after a max_df=200 stop-fingerprint cap.
    Same selection rule as the rows-only `winnowing_dups` (which keeps
    the vectorized Karp-Rabin kernel for throughput); md5 makes every
    stage replicable in DuckDB window SQL."""
    from marker_spark.ops.text import winnowing_fingerprints_exact

    from marker_spark.cacheutil import register

    docs = _read(spark, sf_dir, "documents")
    # persist: the fingerprint table feeds the df-cap aggregation AND
    # both self-join sides — without it the gram-explode + md5 +
    # double-window subtree materializes 8 times (plan-confirmed)
    fps = register(winnowing_fingerprints_exact(docs, k=8, window=4).persist())
    keep = (
        fps.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("df"))
        .where(F.col("df") <= 200)
        .select("fp")
    )
    capped = register(fps.join(keep, "fp").persist())
    pairs = (
        capped.alias("a")
        .join(capped.alias("b"), "fp")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
    )
    return (
        pairs.select(
            F.col("id_a").cast("long").alias("id_a"),
            F.col("id_b").cast("long").alias("id_b"),
            F.col("n_shared").cast("long").alias("n_shared"),
        )
        .orderBy(F.desc("n_shared"), "id_a", "id_b")
        .limit(20)
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: seeded k-means coarse quantizer ->
    per-vector cell assignment -> probe the nprobe nearest cells.  Run
    at FULL probe (nprobe = n_cells) it is exactly the brute-force
    top-k, so it shares the knn oracle; partial-probe recall on
    clustered data is gated in tests/test_similarity_ivf.py."""
    from marker_spark.ops.similarity import ivf_assign, ivf_topk, kmeans_centroids

    emb = _read(spark, sf_dir, "embeddings")
    query = _probe_vector(emb, vec_id=0)
    cents = kmeans_centroids(emb, n_cells=8, seed=42)
    cells = ivf_assign(emb, cents)
    return ivf_topk(cells, cents, query, k=10, nprobe=8)


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-min (1-perm MinHash) fingerprints per source.  The
    fingerprint hash is md5, which DuckDB computes identically, so this
    query carries an EXACT SQL oracle (r2 used xxhash64 and was
    rows-only)."""
    from marker_spark.ops.text import doc_fingerprint

    docs = _read(spark, sf_dir, "documents")
    return (
        doc_fingerprint(docs, shingle=5)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_distinct_fp"),
        )
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marker_spark.ops.multimodal import extract_features, synth_assets

    assets = synth_assets(spark, n=64, seed=42)
    feats = extract_features(assets, fake=True)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_feat0"),
    )


def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-metadata extraction over real MP3/MP4 payloads (no
    decode — the crawl-filter pass that runs BEFORE any decode at
    100 TB): frame-walk / box-walk each payload distributed, report per
    container.  Deterministic synth assets (seeded), rows-only check;
    parser correctness is pinned by synth->parse roundtrip tests."""
    from marker_spark.ops.multimodal import probe_media_meta, synth_container_assets

    assets = synth_container_assets(spark, n=24, seed=7)
    meta = probe_media_meta(assets)
    return (
        meta.groupBy("container")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assets"),
            F.round(F.sum("duration_s"), 3).alias("total_duration_s"),
            F.sum("n_video_tracks").cast("long").alias("n_video_tracks"),
            F.sum("n_audio_tracks").cast("long").alias("n_audio_tracks"),
        )
        .orderBy("container")
    )


def q_multimodal_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL (codec-library-free) decode path: deterministic BMP images
    and PCM16 WAV audio are decoded + featurized distributed with
    fake=False — pure-numpy header parsing, one real format per
    modality (marker_spark/ops/multimodal.py)."""
    from marker_spark.ops.multimodal import extract_features, synth_real_assets

    assets = synth_real_assets(spark, n=32, seed=42)
    feats = extract_features(assets, fake=False)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg(F.element_at("feature", 1)), 6).alias("avg_feat0"),
    )


def q_sketch_table_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read-side flow: write a per-source sketch table, then probe the
    corpus against it with the broadcast-join membership path."""
    from marker_spark.api import bloom_agg
    from marker_spark.probe import probe_sketch_table

    tok = _tokenized_docs(spark, sf_dir)
    table = bloom_agg(tok, capacity=2_000_000, fp=0.001, group_cols=["source"])
    res = probe_sketch_table(tok, table, ["source"], token_col="tokens")
    return res.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("found").cast("long")).alias("n_docs_found"),
    )


def q_minhash_source_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate MinHash: one signature per source over token 3-grams,
    then pairwise Jaccard estimates between sources — each source
    reduces to num_perm*8 bytes regardless of size (the 10^12-scale
    cross-corpus similarity primitive)."""
    import pandas as pd

    from marker_spark.agg import collect_sketches
    from marker_spark.api import minhash_agg
    from marker_spark.sketches.minhash import MinHashSketch

    tok = _tokenized_docs(spark, sf_dir)
    result = minhash_agg(tok, group_cols=["source"], num_perm=128, ngram=3)
    sketches = collect_sketches(result, MinHashSketch, ["source"])
    names = sorted(sketches)
    rows = [
        {
            "source_a": a[0],
            "source_b": b[0],
            "jaccard_est": round(sketches[a].jaccard(sketches[b]), 6),
        }
        for i, a in enumerate(names)
        for b in names[i + 1 :]
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows), schema="source_a string, source_b string, jaccard_est double"
    )


def q_theta_source_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/KMV set-operation estimates between the two largest
    sources: distinct 3-grams of each, their intersection and
    differences — the sketch-level INTERSECT/EXCEPT.

    Accuracy bound: with k=4096 the KMV relative std error is
    1/sqrt(k-1) ~ 1.6%; every estimate is asserted within 5x that of
    the exact distinct-3-gram set algebra in
    tests/test_builtin_oracles.py::test_theta_setops_query_within_bound."""
    import pandas as pd

    from marker_spark.agg import collect_sketches
    from marker_spark.api import theta_agg
    from marker_spark.sketches.theta import ThetaSketch

    tok = _tokenized_docs(spark, sf_dir)
    result = theta_agg(tok, group_cols=["source"], k=4096)
    sketches = collect_sketches(result, ThetaSketch, ["source"])
    # two largest sources by estimate, deterministic tie-break by name
    ranked = sorted(sketches.items(), key=lambda kv: (-kv[1].estimate(), kv[0]))
    assert len(ranked) >= 2, (
        f"theta_source_setops needs >= 2 sources in the documents table, "
        f"found {len(ranked)}"
    )
    (a_name,), a = ranked[0]
    (b_name,), b = ranked[1]
    rows = [
        {
            "source_a": a_name,
            "source_b": b_name,
            "distinct_a_est": int(round(a.estimate())),
            "distinct_b_est": int(round(b.estimate())),
            "intersection_est": int(round(a.intersection_estimate(b))),
            "a_minus_b_est": int(round(a.difference_estimate(b))),
            "b_minus_a_est": int(round(b.difference_estimate(a))),
        }
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows),
        schema="source_a string, source_b string, distinct_a_est long, "
        "distinct_b_est long, intersection_est long, a_minus_b_est long, "
        "b_minus_a_est long",
    )


def _cache_from_events(spark: SparkSession, sf_dir: str):
    """Shared setup for the cache-lifecycle queries: insert all event
    markers into a time-bucketed SketchCache, return (cache, probe_df)
    where probe_df holds the first-window markers AS A DATAFRAME (events
    start at t0, so every probe's insertion bucket overlaps the first
    window).  The probe set is corpus-proportional, so it never touches
    the driver — lookups go through the distributed
    SketchCache.lookup_range_join path (the cache's own bounded state is
    the only thing the driver holds)."""
    from marker_spark.cache.sketch_cache import SketchCache
    from marker_spark.params import CacheParams

    _utc(spark)
    day = 86_400
    t0 = 1_704_067_200
    params = CacheParams(duration=10 * day, lifespan=30 * day, fp=0.001, total_capacity=200_000)
    # spread the thin fixture scan: the insert pass and the probe UDF
    # would otherwise run on one task; Bloom inserts are OR-commutative,
    # so the bucket states are byte-identical either way
    ev = spread_thin(_read(spark, sf_dir, "events")).withColumn(
        "marker", F.concat_ws("|", F.col("event_id"), F.col("props"))
    )
    cache = SketchCache(params)
    cache.insert_batch(ev, ts_col="ts", marker_col="marker")
    probe_df = ev.where(F.unix_timestamp("ts") < t0 + 10 * day).select("marker")
    return cache, probe_df, t0, day


def q_cache_timerange_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity cache lifecycle as a query, restricted to the
    deterministically-exact ranges so it is SQL-oracle-able (the
    reference's own hard invariants, DBAppUnitTests.cpp:97-106):
    zero false negatives make first_window == all_time == n_probes,
    and the inverted-range guard makes inverted == 0.  The non-overlapping
    range (false-positive measurement) lives in q_cache_fp_window.

    Fully distributed: ONE pass over the probe set answers all three
    ranges — the multi-range closure-broadcast lookup UDF hashes each
    marker once and memoizes per-bucket membership across ranges — and
    found-counts aggregate map-side.  No probe list ever reaches the
    driver (the r2 scale-killer); only 1 row of 3 counters does."""
    from marker_spark.cache.sketch_cache import OPEN_END

    cache, probe_df, t0, day = _cache_from_events(spark, sf_dir)
    ranges = [
        ("all_time", 0, OPEN_END),
        ("first_window", t0, t0 + 10 * day - 1),
        ("inverted", 100, 50),
    ]
    udf = cache.lookup_multi_range_udf([(lo, hi) for _, lo, hi in ranges])
    hits = probe_df.select(udf(F.col("marker")).alias("h"))
    agg = hits.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col("h").getField(f"f{i}").cast("long")).alias(f"f{i}")
            for i in range(len(ranges))
        ],
    )
    stack = "stack(%d, %s) as (range_name, n_probes, n_found)" % (
        len(ranges),
        ", ".join(f"'{name}', n, f{i}" for i, (name, _, _) in enumerate(ranges)),
    )
    return agg.selectExpr(stack).orderBy("range_name")


def q_cache_fp_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe first-window markers against a NON-overlapping time range:
    every hit is a Bloom false positive, so observed_fp must stay within
    the reference's tolerance of the configured bound (DBAppUnitTests.cpp:93,
    fp asserted within 30% relative).  Rows-only check: the exact FP count
    is hash-determined, not SQL-expressible.  Distributed end to end —
    the FP-rate arithmetic runs on the single aggregate row."""
    cache, probe_df, t0, day = _cache_from_events(spark, sf_dir)
    probes = probe_df.withColumn("q_start", F.lit(t0 + 20 * day)).withColumn(
        "q_end", F.lit(t0 + 40 * day)
    )
    found = cache.lookup_range_join(probes, "marker", "q_start", "q_end")
    agg = found.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.col("found").cast("long")).alias("n_found"),
    )
    fp = F.col("n_found") / F.greatest(F.col("n_probes"), F.lit(1))
    tol = F.lit(0.001 * 1.3) + F.lit(3.0) / F.greatest(F.col("n_probes"), F.lit(1))
    return agg.select(
        F.lit("last_window").alias("range_name"),
        F.col("n_probes"),
        F.col("n_found"),
        F.round(fp, 6).alias("observed_fp"),
        F.lit(0.001).alias("fp_bound"),
        (fp <= tol).alias("within_bound"),
    )


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style sketch-powered profile of the documents table
    (ops/profile.py): exact n_rows/nulls/min/max/mean in one Catalyst
    agg, per-column HLL distinct estimates + Misra-Gries heavy-hitter
    candidates over ONE melted (column, value, xxhash64) pass, then one
    exact count pass over the bounded candidate IN-list — only
    O(columns x k) scalars reach the driver.  Rows-only (distinct_est
    is an estimate by construction); the exact fields and the MG
    guarantee are DuckDB-gated in tests/test_profile.py."""
    from marker_spark.ops.profile import profile_table

    return profile_table(
        _read(spark, sf_dir, "documents"), top_k=3
    ).orderBy("column")


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Ordered so every exact-oracle query precedes the rows-only ones:
    the driver's correctness artifact records the first ~50 entries, and
    an oracle-bearing query falling off the tail (round 4:
    sketch_table_probe / cache_timerange_lookup) loses its driver-side
    certification.  Within each class, roughly core-SQL -> text/dedup ->
    sketch/cache; the pure rows-only multimodal/sibling-of-exact entries
    sit last (all are gated by local tests and tests/test_oracles.py)."""
    return {
        # -- exact-oracle entries (every key here has an oracle_sql row) --
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "bucket_counts": q_bucket_counts,
        "distinct_users": q_distinct_users,
        "value_quantiles": q_value_quantiles,
        "token_counts": q_token_counts,
        "lang_id": q_lang_id,
        "exact_dedup": q_exact_dedup,
        "top_words": q_top_words,
        "bpe_token_counts": q_bpe_token_counts,
        "ngram_jaccard": q_ngram_jaccard,
        "embedding_near_dup_lsh": q_embedding_near_dup_lsh,
        "pmi_collocations": q_pmi_collocations,
        "bm25_top_docs": q_bm25_top_docs,
        "dedup_clusters": q_dedup_clusters,
        "duplicated_spans": q_duplicated_spans,
        "semdedup": q_semdedup,
        "corpus_prep_spans": q_corpus_prep_spans,
        "boilerplate_excision": q_boilerplate_excision,
        "media_metadata_exact": q_media_metadata_exact,
        "marker_membership_exact": q_marker_membership_exact,
        "asof_join": q_asof_join,
        "sessionization": q_sessionization,
        "interval_join": q_interval_join,
        "sequence_packing": q_sequence_packing,
        "window_top_orders": q_window_top_orders,
        "set_ops": q_set_ops,
        "bloom_ngram_membership": q_bloom_ngram_membership,
        "mg_heavy_words": q_mg_heavy_words,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "doc_fingerprints": q_doc_fingerprints,
        "winnowing_dups_exact": q_winnowing_dups_exact,
        "minhash_lsh_pairs_exact": q_minhash_lsh_pairs_exact,
        "simhash_near_dup_exact": q_simhash_near_dup_exact,
        "gopher_quality": q_gopher_quality,
        "repetition_signals": q_repetition_signals,
        "decontamination": q_decontamination,
        "pii_redaction": q_pii_redaction,
        "lm_quality_perplexity": q_lm_quality_perplexity,
        "sample_uniform": q_sample_uniform,
        "shard_layout": q_shard_layout,
        "curriculum_mix": q_curriculum_mix,
        "sketch_table_probe": q_sketch_table_probe,
        "cache_timerange_lookup": q_cache_timerange_lookup,
        # -- round-10 promotions: the five r9 operators enter the
        # driver window (oracles moved verbatim from
        # tests/test_retired_oracles.py where they ran green since r9);
        # the five slots were freed by retiring subsumed twins to that
        # same local gate (knn_bruteforce -> ivf_topk asserts equality
        # to exact at full probe; embedding_near_dup ->
        # embedding_near_dup_lsh, same kernel + blocking;
        # tfidf_top_terms -> bm25_top_docs, same df/idf machinery;
        # minhash_similarity_exact -> minhash_lsh_pairs_exact, same
        # signature plumbing; corpus_prep -> corpus_prep_spans, the
        # stricter composition) --
        "dsir_selection": q_dsir_selection,
        "incremental_dedup": q_incremental_dedup,
        "canonical_selection": q_canonical_selection,
        "token_budget_selection": q_token_budget_selection,
        "source_budget_selection": q_source_budget_selection,
        # -- rows-only entries (sketch estimates / hash-dependent) --
        "flagship_bloom_by_source": _flagship,
        "theta_source_setops": q_theta_source_setops,
        "cache_fp_window": q_cache_fp_window,
        "hll_distinct_ngrams": q_hll_distinct_ngrams,
        "cms_heavy_tokens": q_cms_heavy_tokens,
        "kll_ntok_quantiles": q_kll_ntok_quantiles,
        "tdigest_value_quantiles": q_tdigest_value_quantiles,
        "bpe_learned_tokens": q_bpe_learned_tokens,
        # -- tail: rows-only with an exact-oracle sibling above, or
        #    multimodal plumbing gated by local parity tests --
        # oracle RETIRED round 6 to free driver-window slots for
        # boilerplate_excision/media_metadata_exact: logstar runs the
        # same connected_components as dedup_clusters (row parity
        # pinned in tests/test_oracles.py), forward as-of is the
        # backward kernel with the sort reversed (property-tested vs a
        # per-key Python scan)
        "dedup_clusters_logstar": q_dedup_clusters_logstar,
        "asof_join_forward": q_asof_join_forward,
        # oracle RETIRED round 7 to free driver-window slots for
        # shard_layout/curriculum_mix: token spans are the word-unit
        # sibling of green duplicated_spans (same diagonal-run kernel),
        # stratified sampling the per-group sibling of green
        # sample_uniform — both retired SQL oracles still run verbatim
        # in tests/test_retired_oracles.py
        "duplicated_token_spans": q_duplicated_token_spans,
        "sample_stratified": q_sample_stratified,
        # oracle RETIRED round 7 (late) to free a slot for semdedup:
        # span_removal is subsumed by TWO green composed excision
        # queries (corpus_prep_spans, boilerplate_excision) that run
        # the same remove_duplicated_spans surgery under byte-exact
        # text hashes — its full SQL runs verbatim in
        # tests/test_retired_oracles.py
        "span_removal": q_span_removal,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "simhash_near_dup": q_simhash_near_dup,
        "winnowing_dups": q_winnowing_dups,
        "minhash_source_similarity": q_minhash_source_similarity,
        "multimodal_features": q_multimodal_features,
        "multimodal_real_decode": q_multimodal_real_decode,
        "media_metadata": q_media_metadata,
        # r8: sketch-powered ANALYZE (exact fields + MG top-k DuckDB-
        # gated in tests/test_profile.py; distinct_est bound-gated)
        "table_profile": q_table_profile,
        # production-signature twin of the (now window-certified)
        # incremental_dedup (rows-only; the bench sweep times this one
        # — the md5 oracle recipe pays a 16x replay explode the
        # production kernel doesn't)
        "incremental_dedup_fast": q_incremental_dedup_fast,
        # r10: band-index retention + degenerate-bucket reclaim (the
        # maybe_age of the dedup index) — full DuckDB oracle verbatim
        # in tests/test_retired_oracles.py
        "band_index_compaction": q_band_index_compaction,
        # oracles RETIRED round 10 to free driver-window slots for the
        # five promoted r9 operators — each is subsumed by a stricter
        # or kernel-identical sibling still in the window (see the
        # promotion comment above); full SQL runs verbatim in
        # tests/test_retired_oracles.py
        "knn_bruteforce": q_knn_bruteforce,
        "embedding_near_dup": q_embedding_near_dup,
        "tfidf_top_terms": q_tfidf_top_terms,
        "minhash_similarity_exact": q_minhash_similarity_exact,
        "corpus_prep": q_corpus_prep,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 4) AS sum_qty,
                   round(sum(l_extendedprice), 4) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
            SELECT c_custkey, c_name, c_mktsegment,
                   round(sum(o_totalprice), 4) AS revenue,
                   count(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_custkey, c_name, c_mktsegment
            ORDER BY revenue DESC, c_custkey
            LIMIT 10
        """,
        "bucket_counts": """
            SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "value_quantiles": """
            SELECT event_type,
                   round(percentile_cont(0.5) WITHIN GROUP (ORDER BY value), 4) AS p50,
                   round(percentile_cont(0.9) WITHIN GROUP (ORDER BY value), 4) AS p90,
                   round(min(value), 4) AS vmin,
                   round(max(value), 4) AS vmax
            FROM events GROUP BY event_type
        """,
        "token_counts": """
            WITH stats AS (
                SELECT source,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
                       CASE WHEN length(coalesce(text, '')) > 0
                            THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                            ELSE 0.0 END AS punct_ratio,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                                 w -> w IN ('the','and','of','to','in','is','a'))) END AS n_stop
                FROM documents
            ), q AS (
                SELECT source, n_words, punct_ratio,
                       CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words ELSE 0.0 END AS stopword_ratio
                FROM stats
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_words) AS BIGINT) AS total_words,
                   round(avg(least(n_words / 100.0, 1.0) * 0.3
                             + (1.0 - punct_ratio) * 0.3
                             + least(stopword_ratio * 5.0, 1.0) * 0.4), 6) AS avg_quality,
                   round(avg(punct_ratio), 6) AS avg_punct_ratio
            FROM q GROUP BY source
        """,
        "lang_id": """
            WITH w AS (
                SELECT lang,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
                FROM documents
            ), s AS (
                SELECT lang,
                       len(list_filter(words, x -> x IN ('the','and','of','to','in','is','a'))) AS s_en,
                       len(list_filter(words, x -> x IN ('el','la','de','que','los','una','y'))) AS s_es,
                       len(list_filter(words, x -> x IN ('le','la','les','des','est','une','et'))) AS s_fr,
                       len(list_filter(words, x -> x IN ('der','die','und','das','ist','ein','nicht'))) AS s_de
                FROM w
            )
            SELECT lang,
                   CASE WHEN s_en >= greatest(s_es, s_fr, s_de) THEN 'en'
                        WHEN s_es >= greatest(s_fr, s_de) THEN 'es'
                        WHEN s_fr >= s_de THEN 'fr'
                        ELSE 'de' END AS predicted,
                   count(*) AS n_docs
            FROM s GROUP BY 1, 2
        """,
        "exact_dedup": """
            SELECT source, count(*) AS n_docs, count(DISTINCT text) AS n_distinct_texts
            FROM documents GROUP BY source
        """,
        "top_words": """
            SELECT w AS word, count(*) AS cnt
            FROM documents,
                 unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                             ELSE regexp_split_to_array(trim(text), '\\s+') END) AS t(w)
            WHERE w <> ''
            GROUP BY w
            ORDER BY cnt DESC, word
            LIMIT 20
        """,
        # MG finds the candidates (guaranteed superset of the top 20 when
        # cnt_20 > N/257), the exact pass ranks them: answer == exact top-20.
        "mg_heavy_words": """
            SELECT w AS word, count(*) AS cnt
            FROM documents,
                 unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                             ELSE regexp_split_to_array(trim(text), '\\s+') END) AS t(w)
            WHERE w <> ''
            GROUP BY w
            ORDER BY cnt DESC, word
            LIMIT 20
        """,
        "ngram_jaccard": """
            WITH w AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE CASE WHEN trim(text) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 3
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
                FROM w, unnest(range(1, len(words) - 1)) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT id_a, id_b,
                   round(n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        """,
        # -- round-10 promotions: the five r9 operators rotate INTO the
        # driver window (their SQL moved verbatim from
        # tests/test_retired_oracles.py, where it ran green at sf0.001
        # and sf0.01 since round 9); the freed slots' twins moved there.
        "dsir_selection": """
    WITH tids AS (
        SELECT doc_id FROM documents
        ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 50
    ), w AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS words
        FROM documents
        WHERE trim(coalesce(text, '')) <> ''
    ), bi AS (
        SELECT doc_id,
               ('0x' || substr(md5(array_to_string(
                    words[CAST(t.i AS INT):CAST(t.i AS INT) + 1], ' ')), 1, 8)
               )::BIGINT % 1024 AS bucket
        FROM w CROSS JOIN UNNEST(CASE WHEN len(words) >= 2
             THEN generate_series(1, len(words) - 1) ELSE [] END) AS t(i)
    ), tgt AS (
        SELECT bucket, COUNT(*) AS c_t FROM bi
        WHERE doc_id IN (SELECT doc_id FROM tids) GROUP BY bucket
    ), rawc AS (
        SELECT bucket, COUNT(*) AS c_r FROM bi GROUP BY bucket
    ), tot AS (
        SELECT (SELECT CAST(COALESCE(SUM(c_t), 0) AS DOUBLE) FROM tgt) AS n_t,
               (SELECT CAST(COALESCE(SUM(c_r), 0) AS DOUBLE) FROM rawc) AS n_r
    ), spine AS (
        SELECT r AS bucket FROM range(1024) t(r)
    ), ratio AS (
        SELECT s.bucket,
               ln((CAST(COALESCE(c_t, 0) AS DOUBLE) + 1.0) / (n_t + 1024.0))
             - ln((CAST(COALESCE(c_r, 0) AS DOUBLE) + 1.0) / (n_r + 1024.0))
               AS log_ratio
        FROM spine s LEFT JOIN tgt USING (bucket)
        LEFT JOIN rawc USING (bucket) CROSS JOIN tot
    ), wts AS (
        SELECT d.doc_id,
               COALESCE(x.n_grams, 0) AS n_grams,
               COALESCE(x.log_w, 0.0) AS log_w
        FROM documents d LEFT JOIN (
            SELECT doc_id, COUNT(*) AS n_grams, SUM(log_ratio) AS log_w
            FROM bi JOIN ratio USING (bucket) GROUP BY doc_id
        ) x USING (doc_id)
    ), sel AS (
        SELECT doc_id, n_grams, log_w,
               ROUND(log_w - ln(-ln(
                   (CAST(('0x' || substr(md5(concat_ws('|',
                        CAST(doc_id AS VARCHAR), 'dsir-r9')), 1, 8))::BIGINT
                    AS DOUBLE) + 0.5) / 4294967296.0)), 6) AS gumbel_key
        FROM wts
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           ROUND(log_w, 6) AS log_w,
           gumbel_key
    FROM sel
    ORDER BY gumbel_key DESC, doc_id
    LIMIT 20
""",
        "incremental_dedup": """
    WITH w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
        WHERE CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 3
    ), sh AS (
        SELECT DISTINCT doc_id,
               array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 2], ' ') AS sh
        FROM w CROSS JOIN UNNEST(generate_series(1, len(words) - 2)) AS t(i)
    ), perms AS (
        SELECT doc_id, p.perm,
               md5(CAST(p.perm AS VARCHAR) || ':' || sh) AS h
        FROM sh CROSS JOIN UNNEST(generate_series(0, 15)) AS p(perm)
    ), sigs AS (
        SELECT doc_id, perm, MIN(h) AS sig
        FROM perms GROUP BY doc_id, perm
    ), bands AS (
        SELECT doc_id, perm // 4 AS band,
               md5(string_agg(sig, '|' ORDER BY perm)) AS band_hash
        FROM sigs GROUP BY 1, 2
    ), ok AS (
        SELECT band, band_hash FROM bands
        GROUP BY band, band_hash HAVING COUNT(*) <= 4
    ), fb AS (
        SELECT b.* FROM bands b JOIN ok USING (band, band_hash)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fb a JOIN fb b USING (band, band_hash)
        WHERE a.doc_id < b.doc_id
    )
    SELECT CAST(id_a AS BIGINT) AS id_a,
           CAST(id_b AS BIGINT) AS id_b,
           CASE WHEN id_a % 4 = 0 AND id_b % 4 = 0
                THEN 'new-new' ELSE 'cross' END AS link
    FROM pairs
    WHERE id_a % 4 = 0 OR id_b % 4 = 0
    ORDER BY id_a, id_b
    LIMIT 50
""",
        "canonical_selection": """
    WITH RECURSIVE w AS (
        SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
        FROM documents
        WHERE CASE WHEN trim(text) = '' THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 3
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
        FROM w, unnest(range(1, len(words) - 1)) AS t(i)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), prs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
    ), edges AS (
        SELECT id_a AS a, id_b AS b FROM prs
        UNION
        SELECT id_b AS a, id_a AS b FROM prs
    ), reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ), comp AS (
        SELECT a AS doc_id, least(a, min(b)) AS component
        FROM reach GROUP BY a
    ), stats AS (
        SELECT doc_id,
               CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x IN ('the','and','of','to','in','is','a'))) END AS n_stop
        FROM documents
    ), q AS (
        SELECT doc_id,
               ROUND(least(n_words / 100.0, 1.0) * 0.3
                   + (1.0 - punct_ratio) * 0.3
                   + least(CASE WHEN n_words > 0 THEN n_stop * 1.0 / n_words
                           ELSE 0.0 END * 5.0, 1.0) * 0.4, 6) AS quality
        FROM stats
    ), m AS (
        SELECT c.doc_id, c.component, q.quality
        FROM comp c JOIN q USING (doc_id)
    ), ranked AS (
        SELECT doc_id, component, quality,
               ROW_NUMBER() OVER (
                   PARTITION BY component ORDER BY quality DESC, doc_id) AS rn
        FROM m
    ), canon AS (
        SELECT component, doc_id AS canonical_id FROM ranked WHERE rn = 1
    )
    SELECT CAST(m.doc_id AS BIGINT) AS doc_id,
           CAST(m.component AS BIGINT) AS component,
           m.quality,
           CAST(c.canonical_id AS BIGINT) AS canonical_id,
           (m.doc_id = c.canonical_id) AS keep
    FROM m JOIN canon c USING (component)
    ORDER BY doc_id
""",
        "token_budget_selection": """
    WITH stats AS (
        SELECT doc_id,
               CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x IN ('the','and','of','to','in','is','a'))) END AS n_stop
        FROM documents
    ), q AS (
        SELECT doc_id, n_tok,
               ROUND(least(n_tok / 100.0, 1.0) * 0.3
                   + (1.0 - punct_ratio) * 0.3
                   + least(CASE WHEN n_tok > 0 THEN n_stop * 1.0 / n_tok
                           ELSE 0.0 END * 5.0, 1.0) * 0.4, 6) AS quality
        FROM stats
    ), ranked AS (
        SELECT doc_id, n_tok, quality,
               COALESCE(SUM(n_tok) OVER (
                   ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
        FROM q
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           quality,
           CAST(cum_before AS BIGINT) AS cum_before
    FROM ranked
    WHERE cum_before < 1000
    ORDER BY quality DESC, doc_id
    LIMIT 50
""",
        "source_budget_selection": """
    WITH stats AS (
        SELECT doc_id, source,
               CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                    ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tok,
               CASE WHEN length(text) > 0
                    THEN (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))) * 1.0 / length(text)
                    ELSE 0.0 END AS punct_ratio,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                         x -> x IN ('the','and','of','to','in','is','a'))) END AS n_stop
        FROM documents
    ), q AS (
        SELECT doc_id, source, n_tok,
               ROUND(least(n_tok / 100.0, 1.0) * 0.3
                   + (1.0 - punct_ratio) * 0.3
                   + least(CASE WHEN n_tok > 0 THEN n_stop * 1.0 / n_tok
                           ELSE 0.0 END * 5.0, 1.0) * 0.4, 6) AS quality
        FROM stats
    ), ranked AS (
        SELECT doc_id, source, n_tok, quality,
               COALESCE(SUM(n_tok) OVER (
                   PARTITION BY source
                   ORDER BY quality DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
        FROM q
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           source,
           CAST(n_tok AS BIGINT) AS n_tok,
           quality,
           CAST(cum_before AS BIGINT) AS cum_before
    FROM ranked
    WHERE cum_before < 500
    ORDER BY source, quality DESC, doc_id
    LIMIT 50
""",
        # ivf_topk runs at full probe (nprobe = n_cells), which is exactly
        # the brute-force top-k — same oracle as knn_bruteforce.
        "ivf_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            z AS (
                SELECT e.vec_id,
                       unnest(CAST(e.embedding AS DOUBLE[])) AS ev,
                       unnest(q.qv) AS qe
                FROM embeddings e CROSS JOIN q
            ), s AS (
                SELECT vec_id, sum(ev * qe) AS dot, sqrt(sum(ev * ev)) AS ne
                FROM z GROUP BY vec_id
            ), qn AS (
                SELECT sqrt(sum(x * x)) AS nq FROM (SELECT unnest(qv) AS x FROM q)
            )
            SELECT vec_id, round(dot / (ne * qn.nq), 6) AS cosine
            FROM s, qn
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        # lsh_topk runs at full probe (probe_hamming = n_planes), which is
        # exactly the brute-force top-k — same oracle as knn_bruteforce.
        "lsh_topk": """
            WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
            z AS (
                SELECT e.vec_id,
                       unnest(CAST(e.embedding AS DOUBLE[])) AS ev,
                       unnest(q.qv) AS qe
                FROM embeddings e CROSS JOIN q
            ), s AS (
                SELECT vec_id, sum(ev * qe) AS dot, sqrt(sum(ev * ev)) AS ne
                FROM z GROUP BY vec_id
            ), qn AS (
                SELECT sqrt(sum(x * x)) AS nq FROM (SELECT unnest(qv) AS x FROM q)
            )
            SELECT vec_id, round(dot / (ne * qn.nq), 6) AS cosine
            FROM s, qn
            ORDER BY cosine DESC, vec_id
            LIMIT 10
        """,
        "embedding_near_dup_lsh": _embedding_lsh_oracle_sql(),
        # PMI over adjacent bigrams; identical probability model and
        # round-6 + (w1, w2) tie-break.
        "pmi_collocations": """
            WITH w AS (
                SELECT CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
                FROM documents
            ), big AS (
                SELECT words[i] AS w1, words[i + 1] AS w2
                FROM w, unnest(range(1, len(words))) AS t(i)
                WHERE words[i] <> '' AND words[i + 1] <> ''
            ), uni AS (
                SELECT wd AS w, count(*) AS c1
                FROM w, unnest(words) AS u(wd)
                WHERE wd <> ''
                GROUP BY wd
            ), pair_counts AS (
                SELECT w1, w2, count(*) AS n_pair FROM big GROUP BY w1, w2
            ), totals AS (
                SELECT (SELECT sum(n_pair) FROM pair_counts) AS total_pairs,
                       (SELECT sum(c1) FROM uni) AS total_words
            )
            SELECT w1, w2, n_pair,
                   round(ln((n_pair * 1.0 / total_pairs)
                         / ((u1.c1 * 1.0 / total_words) * (u2.c1 * 1.0 / total_words))), 6) AS pmi
            FROM pair_counts
            JOIN uni u1 ON u1.w = w1
            JOIN uni u2 ON u2.w = w2
            CROSS JOIN totals
            WHERE n_pair >= 5
            ORDER BY pmi DESC, w1, w2
            LIMIT 10
        """,
        # BM25 with the corpus' top-3 terms as the query; round(6)
        # before ranking + id tie-break keeps order engine-independent.
        "bm25_top_docs": """
            WITH wd AS (
                SELECT doc_id, w AS word
                FROM documents,
                     unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                                 ELSE regexp_split_to_array(trim(text), '\\s+') END) AS t(w)
                WHERE w <> ''
            ), qterms AS (
                SELECT word FROM (
                    SELECT word, count(*) AS cnt FROM wd GROUP BY word
                    ORDER BY cnt DESC, word LIMIT 3
                )
            ), doclen AS (
                SELECT doc_id, count(*) AS dl FROM wd GROUP BY doc_id
            ), stats AS (
                SELECT (SELECT count(*) FROM documents) AS n_docs,
                       (SELECT avg(dl) FROM doclen) AS avgdl
            ), tf AS (
                SELECT doc_id, word, count(*) AS tf
                FROM wd SEMI JOIN qterms USING (word)
                GROUP BY doc_id, word
            ), dfreq AS (
                SELECT word, count(DISTINCT doc_id) AS df
                FROM wd SEMI JOIN qterms USING (word)
                GROUP BY word
            )
            SELECT CAST(tf.doc_id AS BIGINT) AS doc_id,
                   round(sum(
                       ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                       * tf.tf * (1.2 + 1.0)
                       / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
                   ), 6) AS bm25
            FROM tf
            JOIN dfreq USING (word)
            JOIN doclen ON doclen.doc_id = tf.doc_id
            CROSS JOIN stats
            GROUP BY tf.doc_id
            ORDER BY bm25 DESC, doc_id
            LIMIT 10
        """,
        # Same char-24-gram runs on raw substring keys (string equality
        # is bytewise in both engines), the frequency cap (2..16 docs,
        # <=64 occurrences) is replicated, and islands use the same
        # row_number diagonal trick.
        "duplicated_spans": """
            WITH grams AS (
                SELECT d.doc_id, CAST(t.i AS INT) AS pos,
                       substring(d.text, CAST(t.i AS INT), 24) AS g
                FROM documents d
                CROSS JOIN UNNEST(CASE WHEN length(d.text) >= 24
                     THEN generate_series(1, length(d.text) - 23) ELSE [] END) AS t(i)
            ), keep AS (
                SELECT g FROM grams GROUP BY g
                HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 16 AND COUNT(*) <= 64
            ), fg AS (
                SELECT * FROM grams WHERE g IN (SELECT g FROM keep)
            ), pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pos_a, a.pos - b.pos AS diag
                FROM fg a JOIN fg b USING (g) WHERE a.doc_id < b.doc_id
            ), islands AS (
                SELECT doc_a, doc_b, diag, pos_a,
                       pos_a - ROW_NUMBER() OVER (
                           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
                FROM pairs
            ), spans AS (
                SELECT doc_a, doc_b, MIN(pos_a) AS start_a,
                       MIN(pos_a) - diag AS start_b,
                       COUNT(*) + 23 AS span_len
                FROM islands GROUP BY doc_a, doc_b, diag, grp
            )
            SELECT CAST(doc_a AS BIGINT) AS doc_a,
                   CAST(doc_b AS BIGINT) AS doc_b,
                   CAST(start_a AS BIGINT) AS start_a,
                   CAST(start_b AS BIGINT) AS start_b,
                   CAST(span_len AS BIGINT) AS span_len
            FROM spans WHERE span_len >= 40
            ORDER BY span_len DESC, doc_a, doc_b, start_a, start_b
            LIMIT 20
        """,
        # Same held-out sample (md5-bottom-20 doc ids), same 8-word
        # shingles, same semi-join contamination flag.
        # PII redaction: identical RE2-compatible patterns, counts per
        # stage (each on the previous stage's output), 'g' flag because
        # DuckDB regexp_replace is single-match by default.
        "pii_redaction": """
            WITH aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0 THEN
                            coalesce(text, '') || ' contact user' ||
                            CAST(doc_id AS VARCHAR) ||
                            '@example.com or 555-123-4567 node 10.0.0.' ||
                            CAST(doc_id % 256 AS VARCHAR)
                       ELSE text END AS text
                FROM documents
            ), s0 AS (
                SELECT doc_id, coalesce(text, '') AS t FROM aug
            ), s1 AS (
                SELECT doc_id,
                       len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                       regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
                FROM s0
            ), s2 AS (
                SELECT doc_id, n_email,
                       len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS n_phone,
                       regexp_replace(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g') AS t
                FROM s1
            ), s3 AS (
                SELECT doc_id, n_email, n_phone,
                       len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
                       regexp_replace(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS t
                FROM s2
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_email AS BIGINT) AS n_email,
                   CAST(n_phone AS BIGINT) AS n_phone,
                   CAST(n_ip AS BIGINT) AS n_ip,
                   t AS text_redacted
            FROM s3
            WHERE n_email + n_phone + n_ip > 0
            ORDER BY doc_id
            LIMIT 20
        """,
        # Bigram-LM cross-entropy: add-1-smoothed counts from the
        # md5-bottom-100 reference docs; ln agreement between engines
        # is far inside the round-6 gate (BM25 precedent).
        "lm_quality_perplexity": """
            WITH ref_ids AS (
                SELECT doc_id FROM documents
                ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 100
            ), ref_w AS (
                SELECT regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS words
                FROM documents
                WHERE doc_id IN (SELECT doc_id FROM ref_ids)
                  AND trim(coalesce(text, '')) <> ''
            ), uni AS (
                SELECT w.w AS w, COUNT(*) AS c1
                FROM ref_w CROSS JOIN UNNEST(words) AS w(w)
                GROUP BY w.w
            ), vocab AS (
                SELECT COUNT(*) AS v FROM uni
            ), bi AS (
                SELECT array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 1], ' ') AS g,
                       COUNT(*) AS c2
                FROM ref_w CROSS JOIN UNNEST(CASE WHEN len(words) >= 2
                     THEN generate_series(1, len(words) - 1) ELSE [] END) AS t(i)
                GROUP BY 1
            ), doc_w AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(lower(coalesce(text, ''))), '\\s+') AS words
                FROM documents
                WHERE CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 2
            ), doc_bi AS (
                SELECT doc_id,
                       array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 1], ' ') AS g
                FROM doc_w CROSS JOIN UNNEST(generate_series(1, len(words) - 1)) AS t(i)
            ), scored AS (
                SELECT d.doc_id,
                       ln((COALESCE(b.c2, 0) + 1.0)
                          / (COALESCE(u.c1, 0) + 1.0 * (SELECT v FROM vocab))) AS lp
                FROM doc_bi d
                LEFT JOIN bi b USING (g)
                LEFT JOIN uni u ON u.w = split_part(d.g, ' ', 1)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(-AVG(lp), 6) AS cross_entropy
            FROM scored
            GROUP BY doc_id
            ORDER BY cross_entropy DESC, doc_id
            LIMIT 20
        """,
        "decontamination": """
            WITH bench_ids AS (
                SELECT doc_id FROM documents
                ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 20
            ), w AS (
                SELECT doc_id, source,
                       regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE trim(coalesce(text, '')) <> ''
            ), sh AS (
                SELECT doc_id, source,
                       array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 7], ' ') AS g
                FROM w CROSS JOIN UNNEST(CASE WHEN len(words) >= 8
                     THEN generate_series(1, len(words) - 7) ELSE [] END) AS t(i)
            ), bench_grams AS (
                SELECT DISTINCT g FROM sh WHERE doc_id IN (SELECT doc_id FROM bench_ids)
            ), train AS (
                SELECT doc_id, source FROM documents
                WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids)
            ), contaminated AS (
                SELECT DISTINCT s.doc_id FROM sh s
                WHERE s.doc_id NOT IN (SELECT doc_id FROM bench_ids)
                  AND s.g IN (SELECT g FROM bench_grams)
            )
            SELECT t.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_contaminated
            FROM train t LEFT JOIN contaminated c USING (doc_id)
            GROUP BY t.source ORDER BY t.source
        """,
        # Gopher signals replicated expression-for-expression; both
        # engines round per-doc signals to 6 decimals before averaging
        # (then the report to 4), so float noise cannot split the hash.
        "gopher_quality": """
            WITH base AS (
                SELECT source, coalesce(text, '') AS t FROM documents
            ), sig AS (
                SELECT source, t,
                    CASE WHEN trim(t) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(t), '\\s+')) END AS n_words,
                    regexp_split_to_array(trim(t), '\\s+') AS words,
                    length(regexp_replace(t, '\\s', '', 'g')) AS non_ws,
                    string_split(t, chr(10)) AS lines
                FROM base
            ), per_doc AS (
                SELECT source, n_words,
                    ROUND(non_ws / GREATEST(n_words, 1), 6) AS mean_word_len,
                    ROUND(CASE WHEN n_words = 0 THEN 0
                          ELSE len(list_filter(words, w -> regexp_matches(w, '[a-zA-Z]'))) END
                          / GREATEST(n_words, 1), 6) AS alpha_word_frac,
                    ROUND(len(regexp_extract_all(t, '#|\\.\\.\\.'))
                          / GREATEST(n_words, 1), 6) AS symbol_word_ratio,
                    ROUND(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$')))
                          / GREATEST(len(lines), 1), 6) AS ellipsis_line_frac,
                    ROUND(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*]')))
                          / GREATEST(len(lines), 1), 6) AS bullet_line_frac,
                    ROUND(1.0 - len(list_distinct(lines))
                          / GREATEST(len(lines), 1), 6) AS dup_line_frac
                FROM sig
            ), scored AS (
                SELECT *,
                    CASE WHEN n_words >= 30 AND n_words <= 100000
                          AND mean_word_len >= 3 AND mean_word_len <= 10
                          AND symbol_word_ratio < 0.1
                          AND alpha_word_frac >= 0.8
                          AND ellipsis_line_frac < 0.3
                          AND bullet_line_frac < 0.9
                          AND dup_line_frac < 0.3
                         THEN 1 ELSE 0 END AS ok
                FROM per_doc
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(ok) AS BIGINT) AS n_pass,
                   ROUND(AVG(mean_word_len), 4) AS avg_word_len,
                   ROUND(AVG(alpha_word_frac), 4) AS avg_alpha_frac,
                   ROUND(AVG(symbol_word_ratio), 4) AS avg_symbol_ratio,
                   ROUND(AVG(dup_line_frac), 4) AS avg_dup_line_frac
            FROM scored GROUP BY source ORDER BY source
        """,
        # Union-coverage repetition formulas replicated exactly: same
        # tie-break (count desc, bigram asc), positions covered counted
        # DISTINCT (a word counts once), same per-doc rounding, docs
        # with < 2 words absent from both sides.
        "repetition_signals": """
            WITH w AS (
                SELECT source, doc_id,
                       regexp_split_to_array(trim(text), '\\s+') AS words,
                       GREATEST(CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END,
                                1) AS n_words
                FROM documents
                WHERE CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 2
            ), big AS (
                SELECT source, doc_id, n_words, CAST(t.i AS INT) AS pos,
                       array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 1], ' ') AS g
                FROM w CROSS JOIN UNNEST(generate_series(1, len(words) - 1)) AS t(i)
            ), counts2 AS (
                SELECT doc_id, g, COUNT(*) AS cnt FROM big GROUP BY 1, 2
            ), top_g AS (
                SELECT doc_id, g FROM (
                    SELECT doc_id, g,
                           ROW_NUMBER() OVER (PARTITION BY doc_id
                                              ORDER BY cnt DESC, g) AS rn
                    FROM counts2
                ) WHERE rn = 1
            ), top_cov AS (
                SELECT b.source, b.doc_id,
                       ROUND(COUNT(DISTINCT p.p) / ANY_VALUE(b.n_words), 6)
                           AS top_bigram_frac
                FROM big b JOIN top_g USING (doc_id, g)
                CROSS JOIN UNNEST([b.pos, b.pos + 1]) AS p(p)
                GROUP BY b.source, b.doc_id
            ), tri AS (
                SELECT source, doc_id, n_words, CAST(t.i AS INT) AS pos,
                       array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 2], ' ') AS g
                FROM w CROSS JOIN UNNEST(CASE WHEN len(words) >= 3
                     THEN generate_series(1, len(words) - 2) ELSE [] END) AS t(i)
            ), dup_g AS (
                SELECT doc_id, g FROM tri GROUP BY 1, 2 HAVING COUNT(*) >= 2
            ), tri_cov AS (
                SELECT t.doc_id,
                       ROUND(COUNT(DISTINCT p.p) / ANY_VALUE(t.n_words), 6)
                           AS dup_trigram_frac
                FROM tri t JOIN dup_g USING (doc_id, g)
                CROSS JOIN UNNEST([t.pos, t.pos + 1, t.pos + 2]) AS p(p)
                GROUP BY t.doc_id
            ), per_doc AS (
                SELECT tc.source, tc.top_bigram_frac,
                       COALESCE(tr.dup_trigram_frac, 0.0) AS dup_trigram_frac
                FROM top_cov tc LEFT JOIN tri_cov tr USING (doc_id)
            )
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   ROUND(AVG(top_bigram_frac), 4) AS avg_top_bigram_frac,
                   ROUND(AVG(dup_trigram_frac), 4) AS avg_dup_trigram_frac
            FROM per_doc GROUP BY source ORDER BY source
        """,
        # LSH banding rule replayed exactly: same md5-keyed signatures,
        # 4 bands x 4 rows, band hash = md5 of the in-band signature
        # values joined in perm order, pairs share >= 1 band bucket.
        "minhash_lsh_pairs_exact": """
            WITH w AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 3
            ), sh AS (
                SELECT DISTINCT doc_id,
                       array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 2], ' ') AS sh
                FROM w CROSS JOIN UNNEST(generate_series(1, len(words) - 2)) AS t(i)
            ), perms AS (
                SELECT doc_id, p.perm,
                       md5(CAST(p.perm AS VARCHAR) || ':' || sh) AS h
                FROM sh CROSS JOIN UNNEST(generate_series(0, 15)) AS p(perm)
            ), sigs AS (
                SELECT doc_id, perm, MIN(h) AS sig
                FROM perms GROUP BY doc_id, perm
            ), bands AS (
                SELECT doc_id, perm // 4 AS band,
                       md5(string_agg(sig, '|' ORDER BY perm)) AS band_hash
                FROM sigs GROUP BY 1, 2
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
                FROM bands a JOIN bands b USING (band, band_hash)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b,
                   CAST(n_bands AS BIGINT) AS n_bands
            FROM pairs
            ORDER BY n_bands DESC, id_a, id_b
            LIMIT 30
        """,
        # SimHash replayed exactly: 60-bit fingerprint from per-digit
        # majority votes over md5 hex digits of 2-word shingle
        # occurrences; 4x15-bit pigeonhole bands; bit_count(xor) verify.
        "simhash_near_dup_exact": """
            WITH w AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 2
            ), sh AS (
                SELECT doc_id,
                       md5(array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 1], ' ')) AS h
                FROM w CROSS JOIN UNNEST(generate_series(1, len(words) - 1)) AS t(i)
            ), dig AS (
                SELECT doc_id, CAST(p.p AS INT) AS p,
                       strpos('0123456789abcdef', substring(h, CAST(p.p AS INT), 1)) - 1 AS d
                FROM sh CROSS JOIN UNNEST(generate_series(1, 15)) AS p(p)
            ), votes AS (
                SELECT doc_id, p, COUNT(*) AS n,
                       SUM(d % 2) AS s0, SUM((d // 2) % 2) AS s1,
                       SUM((d // 4) % 2) AS s2, SUM((d // 8) % 2) AS s3
                FROM dig GROUP BY doc_id, p
            ), fps AS (
                SELECT doc_id,
                       SUM(CAST(CASE WHEN s0 * 2 > n THEN 1 ELSE 0 END
                             + 2 * CASE WHEN s1 * 2 > n THEN 1 ELSE 0 END
                             + 4 * CASE WHEN s2 * 2 > n THEN 1 ELSE 0 END
                             + 8 * CASE WHEN s3 * 2 > n THEN 1 ELSE 0 END AS BIGINT)
                           << ((p - 1) * 4)) AS fp
                FROM votes GROUP BY doc_id
            ), banded AS (
                SELECT doc_id, fp, CAST(b.band AS INT) AS band,
                       (fp >> (CAST(b.band AS INT) * 15)) & 32767 AS band_val
                FROM fps CROSS JOIN UNNEST(generate_series(0, 3)) AS b(band)
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                       a.fp AS fp_a, b.fp AS fp_b
                FROM banded a JOIN banded b USING (band, band_val)
                WHERE a.doc_id < b.doc_id
            )
            SELECT CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b,
                   CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hamming
            FROM cand
            WHERE bit_count(xor(fp_a, fp_b)) <= 3
            ORDER BY hamming, id_a, id_b
            LIMIT 40
        """,
        # Winnowing under an exact gate: fingerprint set = distinct
        # window-4 minima of md5 char-8-gram hex hashes (lexicographic
        # string compare agrees across engines); short docs contribute
        # their overall-min gram; stop-fingerprint cap df <= 200.
        "winnowing_dups_exact": """
            WITH grams AS (
                SELECT d.doc_id, CAST(t.i AS INT) AS pos,
                       md5(substring(d.text, CAST(t.i AS INT), 8)) AS h
                FROM documents d
                CROSS JOIN UNNEST(CASE WHEN length(d.text) >= 8
                     THEN generate_series(1, length(d.text) - 7) ELSE [] END) AS t(i)
            ), wins AS (
                SELECT doc_id,
                       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m,
                       COUNT(*) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cnt,
                       COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
                FROM grams
            ), fps AS (
                SELECT DISTINCT doc_id, m AS fp FROM wins WHERE cnt = 4
                UNION
                SELECT doc_id, MIN(m) AS fp FROM wins
                WHERE n_grams < 4 GROUP BY doc_id
            ), keep AS (
                SELECT fp FROM fps GROUP BY fp
                HAVING COUNT(DISTINCT doc_id) <= 200
            ), capped AS (
                SELECT * FROM fps WHERE fp IN (SELECT fp FROM keep)
            ), pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       COUNT(*) AS n_shared
                FROM capped a JOIN capped b USING (fp)
                WHERE a.doc_id < b.doc_id
                GROUP BY 1, 2 HAVING COUNT(*) >= 3
            )
            SELECT CAST(id_a AS BIGINT) AS id_a,
                   CAST(id_b AS BIGINT) AS id_b,
                   CAST(n_shared AS BIGINT) AS n_shared
            FROM pairs
            ORDER BY n_shared DESC, id_a, id_b
            LIMIT 20
        """,
        # Same span set as duplicated_spans (no limit), then the same
        # island-merge / complement-segment / ordered-concat rebuild;
        # the hash covers the full cleaned text strings.
        "semdedup": _semdedup_oracle_sql(),
        # Components via recursive transitive closure over the same exact
        # Jaccard pair predicate; min labels compare as strings on both
        # sides (cast to BIGINT only at the end), matching Spark.
        "dedup_clusters": """
            WITH RECURSIVE w AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE CASE WHEN trim(text) = '' THEN 0
                           ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 3
            ), sh AS (
                SELECT DISTINCT doc_id, array_to_string(words[i:i+2], ' ') AS sh
                FROM w, unnest(range(1, len(words) - 1)) AS t(i)
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
                FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ), pairs AS (
                SELECT id_a, id_b
                FROM inter
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE n_inter * 1.0 / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
            ), edges AS (
                SELECT id_a AS a, id_b AS b FROM pairs
                UNION
                SELECT id_b AS a, id_a AS b FROM pairs
            ), reach(a, b) AS (
                SELECT a, b FROM edges
                UNION
                SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT CAST(a AS BIGINT) AS doc_id,
                   CAST(least(a, min(b)) AS BIGINT) AS component
            FROM reach GROUP BY a
            ORDER BY doc_id
        """,
        # Full Lee-et-al. pipeline composed: Gopher filter -> char-span
        # detection on the surviving corpus -> excision -> benchmark
        # decontamination over the CLEANED texts.  Value hash covers
        # the final cleaned strings byte-for-byte.
        "corpus_prep_spans": """
            WITH sigd AS (
                SELECT doc_id, source, text, coalesce(text, '') AS t,
                    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                         ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '\\s+')) END AS n_words,
                    regexp_split_to_array(trim(coalesce(text, '')), '\\s+') AS wlist,
                    length(regexp_replace(coalesce(text, ''), '\\s', '', 'g')) AS non_ws,
                    string_split(coalesce(text, ''), chr(10)) AS lines
                FROM documents
            ), per_doc AS (
                SELECT doc_id, source, text, n_words,
                    ROUND(non_ws / GREATEST(n_words, 1), 6) AS mean_word_len,
                    ROUND(CASE WHEN n_words = 0 THEN 0
                          ELSE len(list_filter(wlist, w -> regexp_matches(w, '[a-zA-Z]'))) END
                          / GREATEST(n_words, 1), 6) AS alpha_word_frac,
                    ROUND(len(regexp_extract_all(t, '#|\\.\\.\\.'))
                          / GREATEST(n_words, 1), 6) AS symbol_word_ratio,
                    ROUND(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$')))
                          / GREATEST(len(lines), 1), 6) AS ellipsis_line_frac,
                    ROUND(len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*]')))
                          / GREATEST(len(lines), 1), 6) AS bullet_line_frac,
                    ROUND(1.0 - len(list_distinct(lines))
                          / GREATEST(len(lines), 1), 6) AS dup_line_frac
                FROM sigd
            ), kept AS (
                SELECT doc_id, source, text FROM per_doc
                WHERE n_words >= 30 AND n_words <= 100000
                  AND mean_word_len >= 3 AND mean_word_len <= 10
                  AND symbol_word_ratio < 0.1
                  AND alpha_word_frac >= 0.8
                  AND ellipsis_line_frac < 0.3
                  AND bullet_line_frac < 0.9
                  AND dup_line_frac < 0.3
            ), grams AS (
                SELECT d.doc_id, CAST(t.i AS INT) AS pos,
                       substring(d.text, CAST(t.i AS INT), 24) AS g
                FROM kept d
                CROSS JOIN UNNEST(CASE WHEN length(d.text) >= 24
                     THEN generate_series(1, length(d.text) - 23) ELSE [] END) AS t(i)
            ), keep_g AS (
                SELECT g FROM grams GROUP BY g
                HAVING COUNT(DISTINCT doc_id) BETWEEN 2 AND 16 AND COUNT(*) <= 64
            ), fg AS (
                SELECT * FROM grams WHERE g IN (SELECT g FROM keep_g)
            ), pairs AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pos_a, a.pos - b.pos AS diag
                FROM fg a JOIN fg b USING (g) WHERE a.doc_id < b.doc_id
            ), islands0 AS (
                SELECT doc_a, doc_b, diag, pos_a,
                       pos_a - ROW_NUMBER() OVER (
                           PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
                FROM pairs
            ), spans AS (
                SELECT doc_a, doc_b, MIN(pos_a) - diag AS start_b,
                       COUNT(*) + 23 AS span_len
                FROM islands0 GROUP BY doc_a, doc_b, diag, grp
                HAVING COUNT(*) + 23 >= 40
            ), iv0 AS (
                SELECT doc_b AS id, start_b AS s,
                       MAX(start_b + span_len - 1) AS e
                FROM spans GROUP BY doc_b, start_b
            ), ord0 AS (
                SELECT id, s, e, MAX(e) OVER (PARTITION BY id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
                FROM iv0
            ), isl AS (
                SELECT id, s, e, SUM(CASE WHEN prev_max IS NULL OR s > prev_max
                                          THEN 1 ELSE 0 END)
                       OVER (PARTITION BY id ORDER BY s) AS island
                FROM ord0
            ), merged AS (
                SELECT id, island, MIN(s) AS s, MAX(e) AS e
                FROM isl GROUP BY id, island
            ), segs AS (
                SELECT id,
                       COALESCE(LAG(e) OVER (PARTITION BY id ORDER BY s) + 1, 1)
                           AS seg_start,
                       s - 1 AS seg_end
                FROM merged
                UNION ALL
                SELECT id, MAX(e) + 1, NULL FROM merged GROUP BY id
            ), rebuilt AS (
                SELECT k.doc_id, length(k.text) AS n_chars_before,
                       string_agg(
                           CASE WHEN COALESCE(seg_end, length(k.text)) >= seg_start
                                THEN substring(k.text, CAST(seg_start AS INT),
                                     CAST(COALESCE(seg_end, length(k.text))
                                          - seg_start + 1 AS INT))
                                ELSE '' END,
                           '' ORDER BY seg_start) AS text
                FROM kept k JOIN segs ON segs.id = k.doc_id
                GROUP BY k.doc_id, length(k.text)
            ), cleaned AS (
                SELECT doc_id, n_chars_before, text FROM rebuilt
                UNION ALL
                SELECT doc_id, length(text), text FROM kept
                WHERE doc_id NOT IN (SELECT id FROM segs)
            ), bench_ids AS (
                SELECT doc_id FROM documents
                ORDER BY md5(CAST(doc_id AS VARCHAR)) LIMIT 20
            ), bench_w AS (
                SELECT regexp_split_to_array(trim(text), '\\s+') AS words
                FROM documents
                WHERE doc_id IN (SELECT doc_id FROM bench_ids)
                  AND trim(coalesce(text, '')) <> ''
            ), bench_grams AS (
                SELECT DISTINCT
                       array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 7], ' ') AS g
                FROM bench_w CROSS JOIN UNNEST(CASE WHEN len(words) >= 8
                     THEN generate_series(1, len(words) - 7) ELSE [] END) AS t(i)
            ), train AS (
                SELECT c.doc_id, k.source, c.n_chars_before, c.text
                FROM cleaned c JOIN kept k USING (doc_id)
                WHERE c.doc_id NOT IN (SELECT doc_id FROM bench_ids)
            ), train_w AS (
                SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS words
                FROM train WHERE trim(coalesce(text, '')) <> ''
            ), contaminated AS (
                SELECT DISTINCT doc_id
                FROM train_w CROSS JOIN UNNEST(CASE WHEN len(words) >= 8
                     THEN generate_series(1, len(words) - 7) ELSE [] END) AS t(i)
                WHERE array_to_string(words[CAST(t.i AS INT):CAST(t.i AS INT) + 7], ' ')
                      IN (SELECT g FROM bench_grams)
            ), final AS (
                SELECT * FROM train
                WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
                   CAST(n_chars_before AS BIGINT) AS n_chars_before,
                   CAST(length(text) AS BIGINT) AS n_chars_after,
                   text
            FROM final
            ORDER BY n_chars_before - length(text) DESC, doc_id
            LIMIT 20
        """,
        # High-DF boilerplate: same augmentation (header prepended to
        # doc_id % 3 == 0), same >max_df gram rule, same island merge
        # and complement rebuild — full independent SQL replay of
        # detection AND excision, hash-gated on the cleaned text.
        "boilerplate_excision": """
            WITH aug AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0
                            THEN '=== STANDARD LICENSE HEADER v2.1: redistribution and use of this document are permitted under the common corpus terms. ===' || chr(10) || coalesce(text, '')
                            ELSE text END AS text
                FROM documents
            ), grams AS (
                SELECT d.doc_id, CAST(t.i AS INT) AS pos,
                       substring(d.text, CAST(t.i AS INT), 24) AS g
                FROM aug d
                CROSS JOIN UNNEST(CASE WHEN length(d.text) >= 24
                     THEN generate_series(1, length(d.text) - 23) ELSE [] END) AS t(i)
            ), hot AS (
                SELECT g FROM (
                    SELECT g, COUNT(DISTINCT doc_id) AS nd
                    FROM grams GROUP BY g
                    HAVING COUNT(DISTINCT doc_id) > 16
                    ORDER BY nd DESC, g LIMIT 100000
                )
            ), occ AS (
                SELECT doc_id, pos, pos + 23 AS e
                FROM grams WHERE g IN (SELECT g FROM hot)
            ), ord0 AS (
                SELECT doc_id, pos, e,
                       MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                           AS prev_max
                FROM occ
            ), isl AS (
                SELECT doc_id, pos, e,
                       SUM(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
                                THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY pos) AS island
                FROM ord0
            ), sp AS (
                SELECT doc_id, MIN(pos) AS s, MAX(e) AS e,
                       MAX(e) - MIN(pos) + 1 AS span_len
                FROM isl GROUP BY doc_id, island
                HAVING MAX(e) - MIN(pos) + 1 >= 40
            ), segs AS (
                SELECT doc_id,
                       COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s) + 1,
                                1) AS seg_start,
                       s - 1 AS seg_end
                FROM sp
                UNION ALL
                SELECT doc_id, MAX(e) + 1, NULL FROM sp GROUP BY doc_id
            ), rebuilt AS (
                SELECT a.doc_id, length(a.text) AS n_chars_before,
                       string_agg(
                           CASE WHEN COALESCE(seg_end, length(a.text)) >= seg_start
                                THEN substring(a.text, CAST(seg_start AS INT),
                                     CAST(COALESCE(seg_end, length(a.text))
                                          - seg_start + 1 AS INT))
                                ELSE '' END,
                           '' ORDER BY seg_start) AS text
                FROM aug a JOIN segs ON segs.doc_id = a.doc_id
                GROUP BY a.doc_id, a.text
            ), stats AS (
                SELECT doc_id, count(*) AS n_spans, SUM(span_len) AS span_chars
                FROM sp GROUP BY doc_id
            )
            SELECT CAST(r.doc_id AS BIGINT) AS doc_id,
                   CAST(n_spans AS BIGINT) AS n_spans,
                   CAST(span_chars AS BIGINT) AS span_chars,
                   CAST(n_chars_before AS BIGINT) AS n_chars_before,
                   CAST(length(r.text) AS BIGINT) AS n_chars_after,
                   r.text AS text
            FROM rebuilt r JOIN stats ON stats.doc_id = r.doc_id
            ORDER BY doc_id
        """,
        # Container metadata from formula-synthesized real payloads:
        # the SQL side computes the EXPECTED parse output from the same
        # index arithmetic the synth uses (no RNG anywhere); durations
        # as integer ms, NULL numerics as -1 (cross-engine NULL rule).
        "media_metadata_exact": """
            WITH idx AS (
                SELECT unnest(generate_series(0, 23)) AS i
            ), p AS (
                SELECT i, printf('media-%06d', i) AS asset_id,
                       CASE WHEN i % 2 = 0 THEN 'mp3' ELSE 'mp4' END AS container,
                       CASE WHEN i % 2 = 0 THEN 5 + (i * 7) % 35 END AS nf,
                       CASE WHEN i % 2 = 0 THEN 1 + (i * 5) % 13 END AS br_idx,
                       CASE WHEN i % 2 = 1 THEN 1 + (i * 37) % 599 END AS dur_s
                FROM idx
            )
            SELECT asset_id, container,
                   CAST(coalesce(nf, -1) AS BIGINT) AS n_frames,
                   CAST(coalesce(list_extract(
                       [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320],
                       br_idx + 1), -1) AS BIGINT) AS bitrate_kbps,
                   CASE WHEN container = 'mp3'
                        THEN CAST(round(round(nf * 1152.0 / 44100, 6) * 1000)
                                  AS BIGINT)
                        ELSE CAST(dur_s * 1000 AS BIGINT)
                   END AS duration_ms,
                   CAST(CASE WHEN container = 'mp4' THEN 1 ELSE -1 END
                        AS BIGINT) AS n_video_tracks,
                   CAST(CASE WHEN container = 'mp4'
                             THEN CASE WHEN i % 4 = 1 THEN 1 ELSE 0 END
                             ELSE -1 END AS BIGINT) AS n_audio_tracks
            FROM p ORDER BY asset_id
        """,
        "window_top_orders": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice, 4) AS totalprice, rn
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (PARTITION BY o_custkey
                                          ORDER BY o_totalprice DESC, o_orderkey) AS rn
                FROM orders
            )
            WHERE rn <= 2
        """,
        "set_ops": """
            WITH a AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
                 b AS (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
            SELECT
                (SELECT count(*) FROM (SELECT * FROM a INTERSECT SELECT * FROM b)) AS n_both,
                (SELECT count(*) FROM (SELECT * FROM a EXCEPT SELECT * FROM b)) AS n_first_only,
                (SELECT count(*) FROM (SELECT * FROM a UNION SELECT * FROM b)) AS n_union
        """,
        "marker_membership_exact": """
            WITH early AS (
                SELECT DISTINCT event_type, props AS marker FROM events
                WHERE epoch(ts) < 1704067200 + 10 * 86400
            ), late AS (
                SELECT DISTINCT props AS marker FROM events
                WHERE epoch(ts) >= 1704067200 + 20 * 86400
            )
            SELECT event_type, count(*) AS n_markers_reappearing
            FROM early WHERE marker IN (SELECT marker FROM late)
            GROUP BY event_type
        """,
        # Our union+window as-of plan vs DuckDB's NATIVE ASOF JOIN —
        # an independent implementation of the same semantics.
        "asof_join": """
            WITH clicks AS (
                SELECT user_id, event_id, ts FROM events
                WHERE event_type = 'click'
            ), purch AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            )
            SELECT CAST(c.user_id AS BIGINT) AS user_id,
                   CAST(c.event_id AS BIGINT) AS event_id,
                   epoch_us(c.ts) AS click_us,
                   ROUND(COALESCE(p.value, -1.0), 6) AS value_asof,
                   COALESCE(epoch_us(p.ts), -1) AS purchase_us
            FROM clicks c ASOF LEFT JOIN purch p
              ON c.user_id = p.user_id AND c.ts >= p.ts
            ORDER BY event_id
        """,
        "sessionization": """
            WITH e AS (
                SELECT user_id, epoch_us(ts) AS us FROM events
            ), g AS (
                SELECT user_id, us,
                       CASE WHEN us - LAG(us) OVER (
                                PARTITION BY user_id ORDER BY us)
                            > 21600 * CAST(1000000 AS BIGINT)
                            THEN 1 ELSE 0 END AS is_new
                FROM e
            ), s AS (
                SELECT user_id, us,
                       SUM(is_new) OVER (PARTITION BY user_id ORDER BY us) + 1
                           AS session
                FROM g
            )
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(session AS BIGINT) AS session,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   MIN(us) AS start_us,
                   MAX(us) AS end_us,
                   MAX(us) - MIN(us) AS duration_us
            FROM s GROUP BY user_id, session
            ORDER BY n_events DESC, user_id, session
            LIMIT 20
        """,
        # Bucketized range join vs the plain inequality join DuckDB
        # optimizes natively (IEJoin) — independent implementations.
        "interval_join": """
            WITH c AS (
                SELECT user_id, epoch_us(ts) AS us FROM events
                WHERE event_type = 'click'
            ), g AS (
                SELECT user_id, us,
                       CASE WHEN us - LAG(us) OVER (
                                PARTITION BY user_id ORDER BY us)
                            > 86400 * CAST(1000000 AS BIGINT)
                            THEN 1 ELSE 0 END AS is_new
                FROM c
            ), s AS (
                SELECT user_id, us,
                       SUM(is_new) OVER (PARTITION BY user_id ORDER BY us) + 1
                           AS session
                FROM g
            ), sess AS (
                SELECT user_id, session, MIN(us) AS start_us, MAX(us) AS end_us
                FROM s GROUP BY user_id, session
            ), err AS (
                SELECT user_id, event_id, epoch_us(ts) AS err_us FROM events
                WHERE event_type = 'error'
            )
            SELECT CAST(e.user_id AS BIGINT) AS user_id,
                   CAST(e.event_id AS BIGINT) AS event_id,
                   e.err_us, x.start_us, x.end_us
            FROM err e JOIN sess x
              ON e.user_id = x.user_id
             AND e.err_us BETWEEN x.start_us AND x.end_us
            ORDER BY event_id, start_us
        """,
        "sequence_packing": """
            WITH d AS (
                SELECT doc_id,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
                           AS n_tok,
                       md5(CAST(doc_id AS VARCHAR)) AS ord
                FROM documents
            ), c AS (
                SELECT doc_id, n_tok,
                       SUM(n_tok) OVER (ORDER BY ord, doc_id
                           ROWS UNBOUNDED PRECEDING) - n_tok AS start_tok
                FROM d
            )
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(n_tok AS BIGINT) AS n_tok,
                   CAST(start_tok AS BIGINT) AS start_tok,
                   CAST(start_tok // 512 AS BIGINT) AS first_bin,
                   CAST(GREATEST(start_tok + n_tok - 1, start_tok) // 512 AS BIGINT)
                       AS last_bin
            FROM c
            ORDER BY start_tok, doc_id
            LIMIT 50
        """,
        "sample_uniform": """
            SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang
            FROM documents
            ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), 's42'))
            LIMIT 50
        """,
        # Independent replay of the seeded epoch permutation: DuckDB
        # computes the identical md5('42:'||id) global rank (same
        # tiebreak), so the round-robin shard/pos layout is byte-equal;
        # tests/test_pack.py additionally pins per-doc (shard, pos)
        # parity and partition-count invariance.
        "shard_layout": """
            WITH ranked AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (
                           ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
                       ) - 1 AS rank
                FROM documents
            )
            SELECT CAST(rank % 16 AS BIGINT) AS shard,
                   COUNT(*) AS n_docs,
                   CAST(MIN(rank // 16) AS BIGINT) AS min_pos,
                   CAST(MAX(rank // 16) AS BIGINT) AS max_pos,
                   CAST(SUM(doc_id) AS BIGINT) AS id_checksum
            FROM ranked
            GROUP BY rank % 16
            ORDER BY shard
        """,
        # Stride-schedule replay: same per-source md5 rank, same
        # IEEE-double i/w virtual time (CAST to DOUBLE — DuckDB's
        # int/decimal division is decimal arithmetic otherwise), same
        # (vt, source, doc_id) prefix order.
        "curriculum_mix": """
            WITH ranked AS (
                SELECT doc_id, source,
                       ROW_NUMBER() OVER (
                           PARTITION BY source
                           ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), 's42'))
                       ) AS i
                FROM documents
                WHERE source IN ('src0', 'src1', 'src2')
            ), prefix AS (
                SELECT doc_id, source
                FROM ranked
                ORDER BY CAST(i AS DOUBLE) / (CASE source WHEN 'src0'
                             THEN CAST(0.5 AS DOUBLE)
                             ELSE CAST(0.25 AS DOUBLE) END),
                         source, doc_id
                LIMIT 40
            )
            SELECT source, COUNT(*) AS n_in_prefix,
                   CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
            FROM prefix GROUP BY source ORDER BY source
        """,
        # Same md5-based shingle-min construction; md5 agrees between
        # Spark and DuckDB so the fingerprint hex strings are identical.
        "doc_fingerprints": """
            WITH w AS (
                SELECT source,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN []::VARCHAR[]
                            ELSE regexp_split_to_array(trim(text), '\\s+') END AS words
                FROM documents
            ), fp AS (
                SELECT source,
                       CASE WHEN len(words) >= 5 THEN
                           list_min(list_transform(range(1, len(words) - 3),
                                    i -> md5(array_to_string(words[i:i+4], ' '))))
                       ELSE md5(array_to_string(words, ' ')) END AS fingerprint
                FROM w
            )
            SELECT source, count(*) AS n_docs,
                   count(DISTINCT fingerprint) AS n_distinct_fp
            FROM fp GROUP BY source
        """,
        "bpe_token_counts": """
            WITH t AS (
                SELECT source,
                       len(regexp_extract_all(coalesce(text, ''),
                           '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\\s]+')) AS n_bpe,
                       CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words
                FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
                   CAST(sum(n_words) AS BIGINT) AS total_words,
                   round(avg(n_bpe), 6) AS avg_bpe_tokens,
                   round(sum(n_bpe) * 1.0 / greatest(sum(n_words), 1), 6) AS bpe_per_word
            FROM t GROUP BY source
        """,
        # Zero-false-negative invariants (reference DBAppUnitTests.cpp:97-106)
        # make the Bloom self-probe queries exactly SQL-expressible: every doc
        # with >= 3 whitespace tokens (i.e. >= one 3-gram) MUST hit, and docs
        # with < 3 tokens have no 3-gram so the any-ngram probe is False.
        "bloom_ngram_membership": """
            WITH t AS (
                SELECT source,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words
                FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(count(*) FILTER (WHERE n_words >= 3) AS BIGINT) AS n_docs_found
            FROM t GROUP BY source
        """,
        "sketch_table_probe": """
            WITH t AS (
                SELECT source,
                       CASE WHEN trim(text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_words
                FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(count(*) FILTER (WHERE n_words >= 3) AS BIGINT) AS n_docs_found
            FROM t GROUP BY source
        """,
        # Deterministic cache-lifecycle invariants: events start at t0, so all
        # first-window probes are found in both all_time and first_window
        # (zero FN), and the inverted range returns 0 (guard).
        "cache_timerange_lookup": """
            WITH p AS (
                SELECT count(*) AS n FROM events
                WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
            )
            SELECT 'all_time' AS range_name, n AS n_probes, n AS n_found FROM p
            UNION ALL
            SELECT 'first_window', n, n FROM p
            UNION ALL
            SELECT 'inverted', n, CAST(0 AS BIGINT) FROM p
        """,
    }
