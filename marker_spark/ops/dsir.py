"""DSIR-style importance-weighted data selection (Xie et al. 2023,
"Data Selection for Language Models via Importance Resampling",
arXiv:2302.03169).

Given a small TARGET corpus (the domain you want more of) and the RAW
corpus, estimate per-document importance weights as the log-likelihood
ratio of hashed n-gram features, then resample with Gumbel top-k:

    log w(doc) = sum over the doc's n-grams g of
                 ln p_target(bucket(g)) - ln p_raw(bucket(g))

The paper's load-bearing trick is the HASHED feature space: n-grams are
bucketed into a fixed B buckets, so both distributions are B-long count
vectors no matter how large the vocabulary grows.  That is exactly what
makes the operator Spark-shaped at 100 TB:

 * the two distribution estimates are bounded aggregations → a B-row
   ratio table that BROADCASTS into the scoring join (the
   lm_bigram_scores shape: nothing corpus-sized ever shuffles on a
   text key);
 * the corpus pass is map-only explode → Catalyst bucket hash →
   broadcast-hash join → per-doc partial aggregation (one shuffle of
   O(docs) tiny rows with map-side combine);
 * selection is Gumbel top-k over the weights: ORDER BY + LIMIT plans
   TakeOrderedAndProject (per-partition heaps), no global sort.

Every expression is engine-stable on purpose:

 * bucket(g) = md5-prefix of the n-gram string, mod B — the repo's
   md5-replay recipe (md5 agrees bytewise between Spark and DuckDB;
   Spark `conv(substring(md5(g),1,8),16,10)` == DuckDB
   `('0x' || substr(md5(g),1,8))::BIGINT`), so the ratio table and
   the weights replay exactly in SQL;
 * the Gumbel noise uses a deterministic uniform from the same md5
   recipe over (id, salt) instead of rand() — the sample is
   resume-stable and SQL-replayable (the ops/sample.py property).

Reference parity note: the reference engine has no data-selection
operator; this is part of the training-data-pipeline family the brief
adds on top (SURVEY.md §2 LLM-pipeline block), built from the same
public-paper recipe as ops/dedup.py's SemDeDup/MinHash operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..obs import spread_thin
from .text import words_col, word_shingles_expr

#: 2^32 as a double — md5-prefix uniforms live in [0, 2^32)
_U32 = 4294967296.0


def md5_bucket_expr(col, buckets: int):
    """Engine-stable hash bucket in [0, buckets): the first 8 hex chars
    of md5, as an integer, mod buckets.  DuckDB replay:
    ``('0x' || substr(md5(g),1,8))::BIGINT % buckets``."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % buckets
    ).alias("bucket")


def hashed_gram_buckets(
    docs: DataFrame,
    n: int = 2,
    buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_empty: bool = False,
) -> DataFrame:
    """(id_col, bucket) stream of hashed word n-gram features — one
    map-only explode over lowercased whitespace words (the
    lm_bigram_scores tokenization, so the two quality operators can
    never disagree about what a word is).  ``keep_empty`` switches to
    explode_outer: a doc with < n words keeps ONE row with NULL bucket,
    which lets the weighting stage cover the whole population without a
    second corpus-sized stitch join (a NULL bucket never matches the
    ratio table's spine, so it scores the empty product)."""
    lw = words_col(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    ex = F.explode_outer if keep_empty else F.explode
    return (
        # the md5-per-gram pass is the expensive leg of both DSIR
        # stages; a single-row-group scan would run it on 1-2 tasks
        spread_thin(docs).select(F.col(id_col), lw.alias("__w"))
        .select(id_col, ex(word_shingles_expr("__w", n)).alias("g"))
        .select(id_col, md5_bucket_expr(F.col("g"), buckets))
    )


def dsir_log_ratio_table(
    raw: DataFrame,
    target: DataFrame,
    n: int = 2,
    buckets: int = 1024,
    alpha: float = 1.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """B-row (bucket, log_ratio) table:

        log_ratio(b) = ln((c_t(b) + alpha) / (N_t + alpha*B))
                     - ln((c_r(b) + alpha) / (N_r + alpha*B))

    with c_t/c_r the target/raw bucket counts and N_t/N_r their totals
    (add-alpha smoothing keeps never-seen buckets finite).  Built on a
    full ``spark.range(buckets)`` spine so every possible bucket has a
    row — the scoring join can then be an INNER broadcast join with no
    missing-key branch.  Both inputs aggregate map-side to B rows
    before anything crosses an exchange."""
    spark = raw.sparkSession

    def _counts(df: DataFrame, name: str) -> DataFrame:
        return (
            hashed_gram_buckets(df, n=n, buckets=buckets,
                                text_col=text_col, id_col=id_col)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias(name))
        )

    tgt = _counts(target, "c_t")
    rawc = _counts(raw, "c_r")
    # totals as a broadcast 1-row frame (NOT a driver collect: the
    # table stays lazily composable and re-usable across sf dirs)
    totals = (
        tgt.agg(F.coalesce(F.sum("c_t"), F.lit(0)).alias("n_t"))
        .crossJoin(rawc.agg(F.coalesce(F.sum("c_r"), F.lit(0)).alias("n_r")))
    )
    spine = spark.range(buckets).select(F.col("id").alias("bucket"))
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * buckets)
    return (
        spine.join(F.broadcast(tgt), "bucket", "left")
        .join(F.broadcast(rawc), "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.coalesce("c_t", F.lit(0)) + a) / (F.col("n_t") + ab))
                - F.log((F.coalesce("c_r", F.lit(0)) + a) / (F.col("n_r") + ab))
            ).alias("log_ratio"),
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
    ratio: DataFrame,
    n: int = 2,
    buckets: int = 1024,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, n_grams, log_w) for EVERY input doc: the summed
    log-ratio of its hashed n-grams (docs with < n words get the empty
    product — n_grams 0, log_w 0.0 — instead of dropping out, so the
    downstream sampler sees the whole population).  The ratio table is
    broadcast LEFT so the explode_outer sentinel row (NULL bucket)
    passes through unscored — covering gram-less docs costs zero extra
    joins; the only shuffle carries one partial (id, sum, count) row
    per doc per partition (plan-asserted: no SortMergeJoin anywhere)."""
    grams = hashed_gram_buckets(docs, n=n, buckets=buckets,
                                text_col=text_col, id_col=id_col,
                                keep_empty=True)
    return (
        grams.join(F.broadcast(ratio), "bucket", "left")
        .groupBy(id_col)
        .agg(
            # count(bucket), not count(*): the NULL-bucket sentinel row
            # is population plumbing, not a gram (the digest-group
            # count(digest) lesson, CLAUDE.md r6)
            F.count("bucket").alias("n_grams"),
            F.coalesce(F.sum("log_ratio"), F.lit(0.0)).alias("log_w"),
        )
    )


def gumbel_key_expr(id_col: str, salt: str, weight_col: str = "log_w",
                    temperature: float = 1.0):
    """Gumbel-top-k sampling key: log_w / T + Gumbel(0,1) noise, with
    the noise derived from a DETERMINISTIC md5 uniform over (id, salt)
    — u = (md5prefix + 0.5) / 2^32 ∈ (0,1), g = -ln(-ln(u)).  Taking
    the k largest keys draws k docs without replacement with
    probability ∝ exp(log_w / T) (the Gumbel-max trick), and the draw
    is exactly replayable in SQL and stable across reruns."""
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))),
                1, 8,
            ),
            16, 10,
        ).cast("long")
        + F.lit(0.5)
    ) / F.lit(_U32)
    return F.col(weight_col) / F.lit(float(temperature)) - F.log(-F.log(u))


def dsir_select(
    weighted: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "dsir",
    temperature: float = 1.0,
    weight_col: str = "log_w",
) -> DataFrame:
    """Top-k docs under the Gumbel key (importance resampling without
    replacement).  ORDER BY + LIMIT plans TakeOrderedAndProject —
    per-partition heaps, no global sort; the key is rounded to 6
    decimals with an id tie-break so the cut is engine-deterministic
    (the semdedup round-6 recipe)."""
    key = F.round(
        gumbel_key_expr(id_col, salt, weight_col, temperature), 6
    ).alias("gumbel_key")
    return (
        weighted.select("*", key)
        .orderBy(F.desc("gumbel_key"), id_col)
        .limit(k)
    )
