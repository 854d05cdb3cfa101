"""Text-analysis operators for training-data pipelines.

All hot-path logic is Spark built-in expressions (JVM, whole-stage
codegen) — no Python UDFs: token counting, quality scoring, language
ID, document fingerprinting.  Each has a DuckDB-oracle-expressible
formulation (the driver's correctness gate) except fingerprinting,
which depends on the engine hash function.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..cacheutil import register
from ..obs import spread_thin

# Tiny per-language stopword lists for the n-gram/keyword heuristic.
# Deterministic and SQL-replicable; accuracy is secondary to determinism
# on the synthetic corpus.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "a"],
    "es": ["el", "la", "de", "que", "los", "una", "y"],
    "fr": ["le", "la", "les", "des", "est", "une", "et"],
    "de": ["der", "die", "und", "das", "ist", "ein", "nicht"],
}
LANG_ORDER = ["en", "es", "fr", "de"]  # deterministic tie-break order


def words_col(text: Column) -> Column:
    """Whitespace tokenization; empty text -> empty array (guarded so
    Spark and DuckDB agree: both split '' into [''])."""
    return F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds n_words, n_chars_calc, avg_word_len, punct_ratio,
    stopword_ratio, quality_score columns — pure Catalyst expressions.
    Null text gets empty-doc semantics (n_words 0, not NULL), matching
    the package convention (_word_hash_col, bpe_ish_token_count_col)."""
    # the word-split / regex / HOF expressions are the cost of every
    # consumer; spread a thin single-row-group scan so they parallelize
    df = spread_thin(df)
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = words_col(text)
    n_words = F.size(words)
    n_chars = F.length(text)
    total_word_len = F.aggregate(
        F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    avg_word_len = F.when(n_words > 0, total_word_len / n_words).otherwise(F.lit(0.0))
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    en_stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(en_stop, w)))
    stopword_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    quality = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.3
        + (F.lit(1.0) - punct_ratio) * 0.3
        + F.least(stopword_ratio * F.lit(5.0), F.lit(1.0)) * 0.4
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("avg_word_len", avg_word_len)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("stopword_ratio", stopword_ratio)
        .withColumn("quality_score", quality)
    )


def lang_id_col(text_col: str = "text") -> Column:
    """Keyword-hit language ID with a deterministic argmax tie-break.
    Null text gets empty-doc semantics (all scores 0 -> 'en' by the
    tie-break), matching the package null convention."""
    words = words_col(F.coalesce(F.col(text_col), F.lit("")))
    def _hit_count(stop):
        return F.size(F.filter(words, lambda w: F.array_contains(stop, w)))

    scores = {}
    for lang in LANG_ORDER:
        scores[lang] = _hit_count(F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]]))
    # argmax with first-in-LANG_ORDER winning ties
    expr = F.lit(LANG_ORDER[-1])
    for lang in reversed(LANG_ORDER[:-1]):
        later = [scores[l2] for l2 in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        cond = scores[lang] >= F.greatest(*later) if len(later) > 1 else scores[lang] >= later[0]
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): Karp–Rabin rolling hash over character k-grams,
    then the minimum hash of every `window` consecutive k-grams, with
    consecutive duplicates collapsed — guarantees every match of length
    >= k + window - 1 between two documents shares a fingerprint.

    Fully vectorized across the Arrow batch with ZERO per-doc Python:
    the text column's raw utf-8 buffer is taken straight from Arrow (no
    per-row encode), the rolling hash is computed in ONE pass with the
    prefix trick H(i) = (P(i+k) - P(i)) * B^(k-1+i) where
    P(j) = sum c_t * Binv^t (mod 2^64, B odd so Binv exists; the B^i
    factor cancels Binv^i so H is position-independent), window minima
    come from one global strided sliding view, the winnowing collapse
    is a flat mask with per-doc boundaries, and the output ships back
    as an Arrow ListArray built from (values, offsets).  ``mapInArrow``
    instead of a pandas UDF: a list-typed pandas result materializes
    one Python object per row — the loop this rewrite removes.

    Returns (id_col, fingerprints array<long>).
    """
    import pyarrow as pa

    B = np.uint64(1000003)  # odd -> invertible mod 2^64
    Binv = np.uint64(pow(1000003, -1, 1 << 64))
    Bk1 = np.uint64(pow(1000003, k - 1, 1 << 64))
    id_type = df.schema[id_col].dataType.simpleString()

    # per-doc outputs are independent of batch composition
    df = spread_thin(df)

    def batch_fn(batches):
        for batch in batches:
            n_docs = batch.num_rows
            if n_docs == 0:
                continue
            ids = batch.column(batch.schema.get_field_index(id_col))
            tx = batch.column(batch.schema.get_field_index(text_col))
            # raw utf-8 straight from the Arrow buffers (nulls have
            # zero-length slots in Spark-produced arrays)
            off_dtype = np.int64 if pa.types.is_large_string(tx.type) else np.int32
            bufs = tx.buffers()
            offs_raw = np.frombuffer(bufs[1], dtype=off_dtype)[
                tx.offset : tx.offset + n_docs + 1
            ].astype(np.int64)
            base = offs_raw[0]
            offs = offs_raw - base
            total = int(offs[-1])
            data = (
                np.frombuffer(bufs[2], dtype=np.uint8)[base : base + total]
                if bufs[2] is not None and total
                else np.empty(0, dtype=np.uint8)
            )
            lens = np.diff(offs)

            # --- one flat hash pass over the whole batch buffer -------
            P = np.zeros(total + 1, dtype=np.uint64)
            powB = np.empty(total + 1, dtype=np.uint64)
            powB[0] = 1
            if total:
                binv_pow = np.empty(total, dtype=np.uint64)
                binv_pow[0] = 1
                if total > 1:
                    np.multiply.accumulate(
                        np.full(total - 1, Binv, dtype=np.uint64), out=binv_pow[1:]
                    )
                np.cumsum(data.astype(np.uint64) * binv_pow, out=P[1:])
                np.multiply.accumulate(
                    np.full(total, B, dtype=np.uint64), out=powB[1:]
                )
            nH = total - k + 1
            H = (P[k:] - P[:-k]) * (Bk1 * powB[:nH]) if nH > 0 else np.empty(0, np.uint64)

            # --- per-doc geometry, three regimes -----------------------
            g = lens - k + 1  # k-grams fully inside each doc
            case_a = g > window  # sliding window minima + collapse
            case_b = (g >= 1) & ~case_a  # single min over the doc's k-grams
            case_c = g < 1  # short doc: whole-doc hash

            # case A: global sliding minima, gathered per doc
            cA = np.where(case_a, g - window + 1, 0).astype(np.int64)
            ccum = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(cA, out=ccum[1:])
            totA = int(ccum[-1])
            kcA = np.zeros(n_docs, dtype=np.int64)
            vals_a = np.empty(0, dtype=np.uint64)
            if totA:
                mins_flat = np.lib.stride_tricks.sliding_window_view(H, window).min(axis=1)
                within = np.arange(totA, dtype=np.int64) - np.repeat(ccum[:-1], cA)
                sel = mins_flat[np.repeat(offs[:-1], cA) + within]
                keep = np.ones(totA, dtype=bool)
                keep[1:] = sel[1:] != sel[:-1]  # collapse runs (winnowing)
                keep[ccum[:-1][case_a]] = True  # never collapse across docs
                doc_of = np.repeat(np.arange(n_docs, dtype=np.int64), cA)
                kcA = np.bincount(doc_of[keep], minlength=n_docs).astype(np.int64)
                vals_a = sel[keep]

            # case B: one min per doc over its (1..window) k-gram hashes
            docs_b = np.flatnonzero(case_b)
            vals_b = np.empty(0, dtype=np.uint64)
            if len(docs_b):
                gb = g[docs_b]
                bcum = np.zeros(len(docs_b) + 1, dtype=np.int64)
                np.cumsum(gb, out=bcum[1:])
                withinb = np.arange(int(bcum[-1]), dtype=np.int64) - np.repeat(bcum[:-1], gb)
                vals_b = np.minimum.reduceat(
                    H[np.repeat(offs[:-1][docs_b], gb) + withinb], bcum[:-1]
                )

            # case C: whole-doc hash (P diff scaled position-independent)
            docs_c = np.flatnonzero(case_c)
            vals_c = np.empty(0, dtype=np.uint64)
            if len(docs_c):
                lo, hi = offs[:-1][docs_c], offs[1:][docs_c]
                vals_c = (P[hi] - P[lo]) * powB[np.maximum(hi - lo - 1, 0) + lo]

            # --- assemble the ListArray in original doc order ----------
            n_fp = np.where(case_a, kcA, 1).astype(np.int64)
            out_off = np.zeros(n_docs + 1, dtype=np.int64)
            np.cumsum(n_fp, out=out_off[1:])
            final = np.empty(int(out_off[-1]), dtype=np.uint64)
            if totA:
                kcum = np.zeros(n_docs + 1, dtype=np.int64)
                np.cumsum(kcA, out=kcum[1:])
                wA = np.arange(len(vals_a), dtype=np.int64) - np.repeat(kcum[:-1], kcA)
                final[np.repeat(out_off[:-1], kcA) + wA] = vals_a
            if len(docs_b):
                final[out_off[:-1][docs_b]] = vals_b
            if len(docs_c):
                final[out_off[:-1][docs_c]] = vals_c

            fps = pa.ListArray.from_arrays(
                pa.array(out_off, type=pa.int32()),
                pa.array(final.view(np.int64), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, fps], names=[id_col, "fingerprints"])

    return df.select(F.col(id_col), F.col(text_col)).mapInArrow(
        batch_fn, schema=f"`{id_col}` {id_type}, fingerprints array<long>"
    )


def winnowing_dup_pairs(
    fp_df: DataFrame, id_col: str = "doc_id", min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs sharing >= min_shared winnowed
    fingerprints: explode -> self-equi-join on the fingerprint (keyed
    shuffle, never all-pairs) -> count shared.

    ``max_df`` drops fingerprints appearing in more than that many
    documents before the join — the stop-fingerprint cap: a boilerplate
    phrase shared by 10^6 docs would otherwise fan out to 10^12 pairs
    on one join key.  Dropping it loses no true near-dups that also
    share rarer content (they still meet min_shared on the rest)."""
    ex = fp_df.select(
        F.col(id_col), F.explode(F.array_distinct("fingerprints")).alias("fp")
    ).persist()
    if max_df is not None:
        rare = ex.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(
            F.col("df") <= max_df
        )
        capped = ex.join(rare.select("fp"), "fp", "left_semi").persist()
        capped.count()  # materialize, then drop the pre-cap cached copy
        ex.unpersist()
        ex = capped
    register(ex)  # released by the session owner after consumption
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


# GPT2-style pre-tokenizer classes (letter runs, short digit runs,
# punctuation runs) WITHOUT lookahead, so the identical pattern runs in
# Java regex (Spark) and RE2 (the DuckDB oracle).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]+"


def bpe_ish_token_count_col(text_col: str = "text") -> Column:
    """Approximate subword token count: number of GPT2-ish pre-token
    matches.  Counts pre-tokens, not BPE merges — the standard cheap
    estimator for corpus token budgeting; pure Catalyst expression."""
    return F.size(
        F.regexp_extract_all(
            F.coalesce(F.col(text_col), F.lit("")), F.lit(BPE_ISH_PATTERN), F.lit(0)
        )
    )


def doc_fingerprint(df: DataFrame, text_col: str = "text", shingle: int = 5) -> DataFrame:
    """Shingle-min fingerprint (1-permutation MinHash over word
    5-grams): fingerprint = min(md5(shingle)).  Near-duplicate docs
    that share their minimal shingle collide — a cheap rolling
    first-pass before full MinHash-LSH.  md5 (not xxhash64) so the
    fingerprint is engine-independent: DuckDB computes the identical
    hex string, making the driver query EXACTLY oracle-able (the same
    trick as the bottom-k sampling oracles in ops/sample.py)."""
    words = words_col(F.col(text_col))
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - shingle, F.lit(0)))
    shingles = F.when(n >= shingle, F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle))
    )).otherwise(F.array(F.concat_ws(" ", words)))
    fp = F.array_min(F.transform(shingles, lambda s: F.md5(s.cast("binary"))))
    return df.withColumn("fingerprint", fp)


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per group by summed TF-IDF — pure
    Catalyst (explode + two aggregations + one join + window top-k),
    whole-stage-codegen end to end.

    Summed tf-idf of a (group, word) factorizes as
    ``total_occurrences_in_group * ln(N / df)`` since the idf is
    constant per word, so no per-(doc, word) score materializes.  The
    vocabulary join is a plain shuffle join keyed by word (the df table
    IS the vocabulary — too big to broadcast at corpus scale); the
    1-row corpus count broadcasts.  Scores round to 6 decimals before
    ranking with a word tie-break, so the rank order is deterministic
    and engine-independent (ln is the one non-correctly-rounded IEEE op
    in the formula).
    """
    from pyspark.sql import Window

    words = (
        df.select(F.col(id_col), F.col(group_col), F.explode(words_col(F.col(text_col))).alias("word"))
        .where(F.col("word") != "")
    )
    tf = words.groupBy(group_col, "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        words.select(id_col, "word").distinct()
        .groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    )
    n = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("tfidf"), F.col("word"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(group_col, "word", "tfidf")
    )


def bm25_top_docs(
    df: DataFrame,
    query_terms_df: DataFrame | None = None,
    n_query_terms: int = 3,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k documents — pure Catalyst end to end.

    ``query_terms_df`` is a one-column (word) DataFrame of query terms;
    when None, the corpus' own top ``n_query_terms`` words (by count,
    word tie-break) are used, which keeps the query self-contained and
    scale-robust.  Scoring: the standard BM25 with
    idf = ln((N - df + 0.5)/(df + 0.5) + 1) and length normalization by
    |D|/avgdl; the query-term table broadcasts (tiny), the 1-row corpus
    stats broadcast, everything else is keyed aggregation.  Scores
    round to 6 decimals before ranking with an id tie-break, keeping
    the order engine-independent (ln is the one non-correctly-rounded
    IEEE op in the formula).
    """
    words = df.select(
        F.col(id_col), F.explode(words_col(F.col(text_col))).alias("word")
    ).where(F.col("word") != "")
    if query_terms_df is None:
        query_terms_df = (
            words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("word"))
            .limit(n_query_terms)
            .select("word")
        )
    doclen = words.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = df.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        F.broadcast(doclen.agg(F.avg("dl").alias("avgdl")))
    )
    tf = (
        words.join(F.broadcast(query_terms_df), "word")
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = (
        words.join(F.broadcast(query_terms_df), "word")
        .select(id_col, "word").distinct()
        .groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    term_score = idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn("term_score", term_score)
        .groupBy(id_col)
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
        .orderBy(F.desc("bm25"), F.col(id_col))
        .limit(k)
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    k: int = 10,
    min_count: int = 5,
) -> DataFrame:
    """Top-k adjacent-bigram collocations by pointwise mutual
    information — pure Catalyst: bigrams come from zipping each word
    array with its own tail (no self-join), unigram/bigram totals are
    two aggregations, and pmi = ln(P(w1,w2) / (P(w1) P(w2))).

    ``min_count`` filters rare bigrams (PMI's known bias toward
    singletons).  Scores round to 6 decimals before ranking with a
    (w1, w2) tie-break, engine-independent per the tfidf/bm25
    discipline.  Returns (w1, w2, n_pair, pmi).
    """
    words = words_col(F.col(text_col))
    n = F.size(words)
    pairs = F.arrays_zip(
        F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
    )
    big = (
        df.select(F.explode(pairs).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    uni = (
        df.select(F.explode(words).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    pair_counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    totals = pair_counts.agg(F.sum("n_pair").alias("total_pairs")).crossJoin(
        F.broadcast(uni.agg(F.sum("c1").alias("total_words")))
    )
    scored = (
        pair_counts.where(F.col("n_pair") >= min_count)
        .join(uni.select(F.col("w").alias("w1"), F.col("c1").alias("c_w1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c1").alias("c_w2")), "w2")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("total_pairs"))
                    / ((F.col("c_w1") / F.col("total_words"))
                       * (F.col("c_w2") / F.col("total_words")))
                ),
                6,
            ),
        )
    )
    return (
        scored.select("w1", "w2", "n_pair", "pmi")
        .orderBy(F.desc("pmi"), F.col("w1"), F.col("w2"))
        .limit(k)
    )


def winnowing_fingerprints_exact(
    docs,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    window: int = 4,
):
    """Cross-engine-exact winnowing fingerprint SET: the distinct
    window-minimum md5 char-k-gram hashes per document.

    The production kernel (:func:`winnowing_fingerprints`) uses a
    vectorized Karp-Rabin rolling hash — engine-specific, so its driver
    query is rows-only.  This variant trades the custom hash for md5
    (identical hex strings in Spark and DuckDB, compared
    lexicographically) and drops positions (the fingerprint HASH set is
    what duplicate detection joins on), making the whole selection
    expressible as two window functions in ANSI SQL — hence an exact
    oracle for the winnowing semantics themselves.

    Definition: for every full window of `window` consecutive k-gram
    hashes, take the minimum; a document shorter than a full window
    contributes the minimum over all its grams.  (The positional
    rightmost-tie rule of robust winnowing only affects which POSITION
    is recorded, never which hash values — so the hash set is
    rule-independent.)  Returns (doc_id, fp) distinct rows.
    """
    from pyspark.sql import Window

    gram_expr = F.when(
        F.length(text_col) >= k,
        F.expr(
            f"transform(sequence(1, length({text_col}) - {k} + 1),"
            f" i -> md5(substring({text_col}, i, {k})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(gram_expr).alias("idx", "h")
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "h")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    wins = grams.select(
        "doc_id",
        F.min("h").over(w).alias("m"),
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_grams"),
    )
    full = wins.where(F.col("cnt") == window).select("doc_id", F.col("m").alias("fp"))
    short = (
        wins.where(F.col("n_grams") < window)
        .groupBy("doc_id")
        .agg(F.min("m").alias("fp"))
    )
    return full.unionByName(short).distinct()


def with_gopher_signals(df, text_col: str = "text"):
    """Gopher-style quality signals (Rae et al. 2021, "Scaling Language
    Models", table A1; the rule family FineWeb/Dolma-style pipelines
    apply before dedup) — every signal a deterministic Catalyst
    expression so the whole filter carries an exact SQL oracle:

    * ``n_words``            whitespace tokens
    * ``mean_word_len``      non-whitespace chars / n_words
    * ``alpha_word_frac``    words containing >= 1 ASCII letter
    * ``symbol_word_ratio``  ('#' + '...') occurrences / n_words
    * ``ellipsis_line_frac`` lines ending in '...'
    * ``bullet_line_frac``   lines starting with '-' or '*'
    * ``dup_line_frac``      1 - distinct lines / lines

    The accept predicate over these columns is the separate
    :func:`gopher_pass_col` (standard thresholds: word count and
    mean-word-length bands, symbol ratio < 0.1, >= 80% alphabetic
    words, < 30% ellipsis lines, < 90% bullet lines, < 30% duplicate
    lines; the word-count band is parameterized for short-document
    fixtures) — apply it as ``df.withColumn("ok", gopher_pass_col())``.
    """
    words = words_col(F.coalesce(F.col(text_col), F.lit("")))
    n_words = F.size(words)
    non_ws = F.length(F.regexp_replace(F.coalesce(F.col(text_col), F.lit("")), r"\s", ""))
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    n_lines = F.size(lines)
    nw = F.greatest(n_words, F.lit(1))
    nl = F.greatest(n_lines, F.lit(1))
    sym = F.regexp_count(F.coalesce(F.col(text_col), F.lit("")), F.lit(r"#|\.\.\."))
    return (
        df.withColumn("n_words", n_words)
        .withColumn(
            "mean_word_len", F.round(non_ws / nw, 6)
        )
        .withColumn(
            "alpha_word_frac",
            F.round(F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]"))) / nw, 6),
        )
        .withColumn("symbol_word_ratio", F.round(sym / nw, 6))
        .withColumn(
            "ellipsis_line_frac",
            F.round(
                F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.$"))) / nl, 6
            ),
        )
        .withColumn(
            "bullet_line_frac",
            F.round(
                F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*]"))) / nl, 6
            ),
        )
        .withColumn(
            "dup_line_frac",
            F.round(F.lit(1.0) - F.size(F.array_distinct(lines)) / nl, 6),
        )
    )


def gopher_pass_col(min_words: int = 50, max_words: int = 100_000):
    """The Gopher accept predicate over :func:`with_gopher_signals`
    columns (word-count band parameterizable for short-doc fixtures)."""
    return (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") < 0.1)
        & (F.col("alpha_word_frac") >= 0.8)
        & (F.col("ellipsis_line_frac") < 0.3)
        & (F.col("bullet_line_frac") < 0.9)
        & (F.col("dup_line_frac") < 0.3)
    )


def word_shingles_expr(words_col_name: str, n: int):
    """array<string> of n-word shingle strings over an existing word
    array column; < n words -> empty array.  The ONE definition of the
    string-shingle expression shared by every exact-oracle query
    (decontamination, repetition signals, MinHash-exact) — a semantics
    fix here cannot leave a sibling query diverged."""
    return F.when(
        F.size(words_col_name) >= n,
        F.expr(
            f"transform(sequence(1, size({words_col_name}) - {n} + 1),"
            f" i -> concat_ws(' ', slice({words_col_name}, i, {n})))"
        ),
    ).otherwise(F.array().cast("array<string>"))


# -- PII redaction ----------------------------------------------------------

#: (tag, pattern) pairs — deliberately RE2-compatible (no lookaround, no
#: backreferences) so the SAME pattern strings run in Spark's Java regex
#: and DuckDB's RE2, making the operator exactly SQL-oracle-able.
PII_PATTERNS: list[tuple[str, str]] = [
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("PHONE", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"),
    ("IP", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub (the Dolma/FineWeb-style pre-training hygiene pass):
    replace emails / phone numbers / IPv4 literals with ``<TAG>``
    placeholders and count the matches per doc.

    Pure Catalyst (regexp_count + chained regexp_replace, whole-stage
    codegen) — the 100 TB shape is a map-only pass, no shuffle at all.
    Patterns are applied in :data:`PII_PATTERNS` order; PHONE runs
    before IP would also match "123.456.789.012"-style strings, so IP
    counts are taken on the PHONE-redacted text (counts reflect what
    each stage actually replaced, matching the redaction exactly).

    Adds ``text_redacted`` plus ``n_<tag>`` count columns.
    """
    out = df
    cur = F.coalesce(F.col(text_col), F.lit(""))
    for tag, pat in PII_PATTERNS:
        out = out.withColumn(f"n_{tag.lower()}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, f"<{tag}>")
    return out.withColumn("text_redacted", cur)


# -- n-gram LM quality scoring ---------------------------------------------

def lm_bigram_scores(
    docs: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    add_k: float = 1.0,
) -> DataFrame:
    """CCNet/FineWeb-style LM quality signal: score every document's
    cross-entropy under an add-k-smoothed bigram LM trained on a
    REFERENCE corpus (the "good text" sample; junk scores high).

        logp(w2 | w1) = ln( (c2(w1 w2) + k) / (c1(w1) + k * V) )

    with c2/c1 the reference bigram/unigram occurrence counts over
    lowercased whitespace words and V the reference vocabulary size.

    100 TB shape: the reference corpus is the BOUNDED side — its count
    tables aggregate map-side and BROADCAST into the scoring joins, so
    the full corpus streams through two broadcast-hash left joins and
    one per-doc aggregation; nothing corpus-sized shuffles on a text
    key.  Every expression is deterministic Catalyst (ln over doubles
    agrees with DuckDB well past the round-6 gate), so the whole
    operator carries an exact SQL oracle.

    Returns (id_col, n_bigrams, cross_entropy) for docs with >= 1
    bigram.
    """
    lw = lambda c: words_col(F.lower(F.coalesce(c, F.lit(""))))  # noqa: E731
    ref_words = ref.select(F.explode(lw(F.col(text_col))).alias("w"))
    uni = ref_words.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    vocab = ref_words.select(F.countDistinct("w").alias("v"))
    bi = (
        ref.select(lw(F.col(text_col)).alias("__w"))
        .select(F.explode(word_shingles_expr("__w", 2)).alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    doc_bi = (
        docs.select(F.col(id_col), lw(F.col(text_col)).alias("__w"))
        .where(F.size("__w") >= 2)
        .select(id_col, F.explode(word_shingles_expr("__w", 2)).alias("g"))
        .withColumn("w1", F.substring_index("g", " ", 1))
    )
    scored = (
        doc_bi.join(F.broadcast(bi), "g", "left")
        .join(F.broadcast(uni.withColumnRenamed("w", "w1")), "w1", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.coalesce("c2", F.lit(0)) + F.lit(add_k))
                / (F.coalesce("c1", F.lit(0)) + F.lit(add_k) * F.col("v"))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(-F.avg("lp"), 6).alias("cross_entropy"),
    )
