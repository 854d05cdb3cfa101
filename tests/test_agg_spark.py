"""End-to-end Spark aggregation tests: distributed Bloom build over the
tokenized-sequence table, membership probes, merge-order invariance.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from marker_spark.agg import collect_sketch, collect_sketches, sketch_agg
from marker_spark.datagen import gen_tokenized_sequences
from marker_spark.hashing import mmh3_x64_128
from marker_spark.kernels import bloom_factory, bloom_ngram_updater
from marker_spark.ngrams import ngram_bytes
from marker_spark.probe import probe_sketch_table
from marker_spark.sketches.bloom import BloomSketch
from tests.helpers import list_column_to_flat

N_DOCS = 2000
NGRAM = 3


@pytest.fixture(scope="module")
def tokseq_df(spark, tokseq_path):
    return spark.read.parquet(tokseq_path)


def _local_reference_sketch(factory, n):
    """Single-threaded local build over the same data = ground truth."""
    tbl = gen_tokenized_sequences(N_DOCS, seed=42).to_pandas()
    sk = factory()
    flat, offsets = list_column_to_flat(tbl["tokens"])
    mat, _ = ngram_bytes(flat, offsets, n)
    sk.insert_fixed_width(mat)
    return sk, tbl


def test_distributed_build_matches_local(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    local, _ = _local_reference_sketch(factory, NGRAM)

    result = sketch_agg(tokseq_df.repartition(7), factory, update, BloomSketch)
    dist = collect_sketch(result, BloomSketch)
    # Exact state equality: OR-merge across any partitioning gives the
    # same bit array as the single-pass build.
    np.testing.assert_array_equal(dist.blocks, local.blocks)
    assert dist.n_inserted == local.n_inserted


def test_partition_count_invariance(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    a = collect_sketch(sketch_agg(tokseq_df.repartition(2), factory, update, BloomSketch), BloomSketch)
    b = collect_sketch(
        sketch_agg(tokseq_df.repartition(13), factory, update, BloomSketch),
        BloomSketch,
    )
    np.testing.assert_array_equal(a.blocks, b.blocks)


def test_grouped_build_by_source(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    result = sketch_agg(tokseq_df, factory, update, BloomSketch, group_cols=["source"])
    sketches = collect_sketches(result, BloomSketch, ["source"])
    pdf = gen_tokenized_sequences(N_DOCS, seed=42).to_pandas()
    assert set(k[0] for k in sketches) == set(pdf["source"].unique())
    # Per-group zero false negatives.
    for src, sub in pdf.groupby("source"):
        sk = sketches[(src,)]
        flat, offsets = list_column_to_flat(sub["tokens"])
        mat, _ = ngram_bytes(flat, offsets, NGRAM)
        assert bool(sk.contains_fixed_width(mat).all()), f"FN in group {src}"


def test_membership_udf_no_false_negatives(spark, tokseq_df):
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    table = sketch_agg(tokseq_df, factory, update, BloomSketch)

    probed = probe_sketch_table(tokseq_df, table, [], token_col="tokens", ngram=NGRAM)
    hits = probed.select("found").toPandas()["found"]
    # Every inserted doc contains its own n-grams -> all true.
    assert bool(hits.all())


def test_membership_udf_fp_bounded(spark):
    # Probe docs generated with a different seed: nearly all their
    # n-grams are absent; row-level "any n-gram present" can still fire
    # on common zipf-head grams, so probe with rare high-id tokens.
    factory = bloom_factory(capacity=300_000, fp=0.001)
    update = bloom_ngram_updater(NGRAM)
    rng = np.random.default_rng(99)
    import pandas as pd

    from marker_spark.agg import pack_state

    probe_tokens = [rng.integers(10**6, 10**7, size=20).astype(np.int32) for _ in range(500)]
    sk, _ = _local_reference_sketch(factory, NGRAM)
    flat, offsets = list_column_to_flat(pd.Series(probe_tokens))
    mat, per_doc = ngram_bytes(flat, offsets, NGRAM)
    hits = sk.contains_fixed_width(mat)
    fp_rate = float(hits.mean())
    assert fp_rate <= 0.001 * 1.3
    # the DISTRIBUTED zero-key probe must agree with the local kernel
    # doc for doc (any-n-gram semantics) — the negative path included
    seg = np.concatenate(([0], np.cumsum(per_doc)[:-1]))
    local_any = np.add.reduceat(hits.astype(np.int64), seg) > 0
    probe_df = spark.createDataFrame(
        pd.DataFrame({"i": range(len(probe_tokens)),
                      "tokens": [t.tolist() for t in probe_tokens]}),
        schema="i long, tokens array<int>",
    )
    table = spark.createDataFrame([(pack_state(sk),)], schema="sketch binary")
    got = (
        probe_sketch_table(probe_df, table, [], token_col="tokens", ngram=NGRAM)
        .orderBy("i").select("found").toPandas()["found"].to_numpy()
    )
    assert np.array_equal(got, local_any)


def test_null_group_keys_reach_a_sketch(spark):
    """Rows with a null group key must be sketched under the sentinel
    group, not silently dropped (ADVICE: pandas groupby dropna) — also
    when only one column of a two-column key is null."""
    import pandas as pd

    from marker_spark.agg import NULL_KEY
    from marker_spark.kernels import bloom_factory, bloom_binary_updater

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a", "a", None, None, None], "h": ["p", None, "p", None, "p"],
                      "v": list("vwxyz")}),
        schema="g string, h string, v string",
    ).repartition(2)
    out = sketch_agg(df, bloom_factory(1000, 0.01), bloom_binary_updater("v"),
                     BloomSketch, group_cols=["g"])
    sketches = collect_sketches(out, BloomSketch, ["g"])
    assert (NULL_KEY,) in sketches
    null_sk = sketches[(NULL_KEY,)]
    assert null_sk.n_inserted == 3
    assert null_sk.contains_hashes(*mmh3_x64_128([b"x", b"y", b"z"])).all()
    assert sketches[("a",)].n_inserted == 2

    out2 = sketch_agg(df, bloom_factory(1000, 0.01), bloom_binary_updater("v"),
                      BloomSketch, group_cols=["g", "h"])
    sketches2 = collect_sketches(out2, BloomSketch, ["g", "h"])
    expected = {("a", "p"): [b"v"], ("a", NULL_KEY): [b"w"],
                (NULL_KEY, "p"): [b"x", b"z"], (NULL_KEY, NULL_KEY): [b"y"]}
    assert set(sketches2) == set(expected)
    for key, markers in expected.items():
        assert sketches2[key].n_inserted == len(markers), key
        assert sketches2[key].contains_hashes(*mmh3_x64_128(markers)).all(), key


def test_unknown_group_col_rejected_up_front(spark, tokseq_df):
    """A group column missing from the DataFrame fails with a ValueError
    naming it when sketch_agg is called, not later inside a worker."""
    with pytest.raises(ValueError, match="no_such_col"):
        sketch_agg(tokseq_df, bloom_factory(1000, 0.01), bloom_ngram_updater(NGRAM),
                   BloomSketch, group_cols=["source", "no_such_col"])


def test_encode_series_null_cells():
    """A marker column with a stray NULL must encode, not crash
    (regression: the vectorized path chose by first cell and then took
    len(None) when hashing); the NULL encodes as b"None"."""
    from marker_spark.kernels import arrow_marker_bytes

    def rows(arr):
        flat, offsets = arrow_marker_bytes(arr)
        return [bytes(flat[lo:hi]) for lo, hi in zip(offsets[:-1], offsets[1:])]

    assert rows(pa.array([b"abc", None, b"x"])) == [b"abc", b"None", b"x"]
    assert rows(pa.array([None, b"abc"])) == [b"None", b"abc"]
    assert rows(pa.array([None, None], type=pa.binary())) == [b"None", b"None"]
    assert rows(pa.array(["a", None])) == [b"a", b"None"]
    assert rows(pa.array([], type=pa.binary())) == []


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_salt_count_matches_case_when_chain(spark, ansi):
    """The map-literal salt placement equals a CASE WHEN chain over the
    same placement for awkward group names, the NULL_KEY sentinel, a
    NULL row and a group missing from the shares, with and without ANSI
    mode.  The repartition puts one group's salts in distinct
    partitions, no partition's row share above 1/P plus its largest
    (group, salt) unit, a NULL row with NULL_KEY's salts and an unknown
    group on ``pmod(xxhash64(group), P)``, the same way on every call."""
    from collections import Counter

    from pyspark.sql import functions as F

    from marker_spark.agg import NULL_KEY, _placed_salts, _salt_placement, salted_repartition

    sizes = {'say "hi"': 400, "back\\slash": 200, "日本語 café": 150, NULL_KEY: 100, "plain": 80, "a.b": 70}
    total = sum(sizes.values())
    shares = {g: c / total for g, c in sizes.items()}
    parallelism = 4
    placement = _salt_placement(shares, parallelism)
    assert placement == _salt_placement(dict(reversed(shares.items())), parallelism)
    chain = F.lit(None)
    for g, ids in placement.items():
        chain = F.when(
            F.coalesce(F.col("g"), F.lit(NULL_KEY)) == g, F.array(*map(F.lit, ids))
        ).otherwise(chain)
    # each group's rows contiguous, so a salt takes every c-th id of it;
    # 40 of NULL_KEY's rows are NULL
    names = [g for g, c in sizes.items() for _ in range(c)]
    names[names.index(NULL_KEY) : names.index(NULL_KEY) + 40] = [None] * 40
    rows = [(i, g) for i, g in enumerate(names + ["unknown"] * 20)]
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        df = spark.createDataFrame(rows, "i long, g string").coalesce(1)
        got = df.select("g", _placed_salts("g", placement).alias("new"), chain.alias("old")).collect()
        assert len(got) == len(rows)
        assert all(r["new"] == r["old"] for r in got), [r for r in got if r["new"] != r["old"]]
        assert {r["g"]: r["new"] for r in got}[None] == placement[NULL_KEY]
        assert {r["g"]: r["new"] for r in got}["unknown"] is None

        def placed(salted):
            return sorted(salted.select("i", F.spark_partition_id().alias("p")).collect())

        first = placed(salted_repartition(df, "g", shares, parallelism))
        assert first == placed(salted_repartition(df, "g", shares, parallelism))
        part = {i: p for i, p in first}
        group = {i: NULL_KEY if g is None else g for i, g in rows}
        units = Counter((group[i], part[i]) for i, _ in rows)
        for g, ids in placement.items():
            assert len(set(ids)) == len(ids)
            assert {p for (h, p) in units if h == g} == set(ids), g
        (hashed,) = spark.range(1).select(F.pmod(F.xxhash64(F.lit("unknown")), F.lit(parallelism))).first()
        assert {p for (h, p) in units if h == "unknown"} == {hashed}
        for p in range(parallelism):
            known = {h: c for (h, q), c in units.items() if q == p and h != "unknown"}
            assert sum(known.values()) / total <= 1 / parallelism + max(known.values(), default=0) / total, p
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_state_prefix_reads_the_bloom_shape_without_inflating():
    """``state_prefix`` returns a packed state's first serialized bytes
    for a zlib (MSKZ) and a raw (MSKR) state, enough for
    ``BloomSketch.shape_from_bytes``."""
    from marker_spark.agg import _RMAGIC, pack_state, state_prefix
    from marker_spark.sketches.bloom import PREFIX_BYTES

    sk = BloomSketch(1 << 16, 7)
    sk.insert_hashes(*mmh3_x64_128([b"a", b"b"]))
    raw = sk.to_bytes()
    for packed in (pack_state(sk), _RMAGIC + raw):
        assert state_prefix(packed, PREFIX_BYTES) == raw[:PREFIX_BYTES]
        assert BloomSketch.shape_from_bytes(state_prefix(packed, PREFIX_BYTES)) == (1 << 16, 7)
