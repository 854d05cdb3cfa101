"""Read-side probe tests: probe DataFrames against a distributed
sketch table (write side -> parquet roundtrip -> probe)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from marker_spark.agg import collect_sketch
from marker_spark.api import bloom_agg
from marker_spark.hashing import mmh3_x64_128
from marker_spark.probe import probe_sketch_table
from marker_spark.sketches.bloom import BloomSketch

SF_DIR = "/root/testdata/sf0.001"


def test_probe_tokenized_table(spark, tokseq_path, tmp_path):
    tok = spark.read.parquet(tokseq_path)
    table = bloom_agg(tok, capacity=200_000, fp=0.001, group_cols=["source"])
    loc = str(tmp_path / "sketches")
    table.write.parquet(loc)
    sketch_table = spark.read.parquet(loc)

    # self-probe: every inserted doc must hit its own group's sketch
    res = probe_sketch_table(tok, sketch_table, ["source"], token_col="tokens")
    assert res.where(~F.col("found")).count() == 0

    # probes with an unknown group get False
    alien = tok.limit(20).withColumn("source", F.lit("no-such-source"))
    res2 = probe_sketch_table(alien, sketch_table, ["source"], token_col="tokens")
    assert res2.where(F.col("found")).count() == 0


def test_probe_marker_table(spark, tmp_path):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "marker", F.concat_ws("|", F.col("event_id"), F.col("props"))
    )
    table = bloom_agg(ev, marker_col="marker", capacity=50_000, fp=0.001,
                      group_cols=["event_type"])
    res = probe_sketch_table(ev, table, ["event_type"], marker_col="marker")
    assert res.where(~F.col("found")).count() == 0

    # cross-group probes: markers from type A probed as type B mostly miss
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    swapped = ev.where(F.col("event_type") == types[0]).withColumn(
        "event_type", F.lit(types[1])
    )
    res2 = probe_sketch_table(swapped, table, ["event_type"], marker_col="marker")
    n = res2.count()
    hits = res2.where(F.col("found")).count()
    assert hits / max(n, 1) < 0.05, f"cross-group FP rate {hits}/{n}"


def test_collect_states_guard_rejects_unbounded_tables(spark):
    """The 'bounded per-group dict' assumption is enforced: a sketch
    table whose total serialized state exceeds the cap raises instead
    of OOMing the driver through collect + broadcast."""
    from marker_spark.probe import collect_sketch_states

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "marker", F.concat_ws("|", F.col("event_id"), F.col("props"))
    )
    table = bloom_agg(ev, marker_col="marker", capacity=50_000, fp=0.001,
                      group_cols=["event_type"])
    with pytest.raises(ValueError, match="collect cap"):
        collect_sketch_states(table, ["event_type"], max_bytes=64)
    # the default cap accepts the bounded table
    states = collect_sketch_states(table, ["event_type"])
    assert len(states) > 0


def test_probe_with_zero_group_cols(spark, tokseq_path):
    """``group_cols=[]`` probes every row against the table's single
    ungrouped state, for token n-grams and for raw markers alike."""
    tok = spark.read.parquet(tokseq_path)
    table = bloom_agg(tok, capacity=200_000, fp=0.001)
    res = probe_sketch_table(tok, table, [], token_col="tokens")
    assert res.count() == tok.count()
    assert res.where(~F.col("found")).count() == 0

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "marker", F.concat_ws("|", F.col("event_id"), F.col("props"))
    )
    table = bloom_agg(ev, marker_col="marker", capacity=50_000, fp=0.001)
    assert probe_sketch_table(ev, table, [], marker_col="marker").where(~F.col("found")).count() == 0
    alien = ev.withColumn("marker", F.concat(F.lit("alien|"), F.col("marker")))
    res2 = probe_sketch_table(alien, table, [], marker_col="marker")
    n, hits = res2.count(), res2.where(F.col("found")).count()
    assert hits / max(n, 1) < 0.05, f"zero-key FP rate {hits}/{n}"


def test_nullable_bigint_markers_hash_the_same_in_every_batch(spark):
    """A bigint marker column where one partition holds a NULL and the
    other does not: every inserted value is found by
    ``probe_sketch_table``, and NULL hashes exactly as b"None".  Such a
    column once reached the hash as float64 in the NULL's batch only,
    so 3 was inserted as b"3.0" and probed as b"3" (a false negative)."""
    rdd = spark.sparkContext.parallelize([(3,), (None,), (7,), (8,)], 2)
    df = spark.createDataFrame(rdd, "m bigint")
    assert [len(part) for part in df.rdd.glom().collect()] == [2, 2]
    table = bloom_agg(df, marker_col="m", capacity=1_000, fp=1e-6)
    bf = collect_sketch(table, BloomSketch)
    assert bf.contains_hashes(*mmh3_x64_128([b"3", b"7", b"8", b"None"])).all()
    assert not bf.contains_hashes(*mmh3_x64_128([b"3.0", b"nan"])).any()
    got = probe_sketch_table(df, table, [], marker_col="m").collect()
    assert [r["found"] for r in got] == [True] * 4


def test_probe_with_dotted_marker_and_group_cols(spark):
    """A dot in the marker or group column name is part of the name:
    the build and the probe both reach the column, and a NULL group
    key answers False."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        F.concat_ws("|", F.col("event_id"), F.col("props")).alias("m.k"),
        F.col("event_type").alias("e.t"),
    )
    table = bloom_agg(ev, marker_col="m.k", capacity=50_000, fp=0.001, group_cols=["e.t"])
    res = probe_sketch_table(ev, table, ["e.t"], marker_col="m.k")
    assert res.count() == ev.count() and res.where(~F.col("found")).count() == 0
    nulls = ev.withColumn("e.t", F.lit(None).cast("string"))
    res2 = probe_sketch_table(nulls, table, ["e.t"], marker_col="m.k")
    assert res2.where(F.col("found")).count() == 0


def test_token_probe_over_many_slices_matches_the_unsliced_answer(spark):
    """``probe_sketch_table(token_col=...)`` on one Arrow batch holding
    more than ``_HASH_CHUNK`` n-grams, one row alone longer than
    ``_HASH_CHUNK``, an empty row and a row shorter than n answers every
    row as the unsliced kernel does: all n-grams hashed and probed at
    once, then OR-reduced per row."""
    import pyarrow as pa

    from marker_spark.agg import SKETCH_COL, pack_state
    from marker_spark.hashing import _HASH_CHUNK, mmh3_ngram_i32
    from marker_spark.ngrams import ngram_starts
    from marker_spark.params import BloomParams

    n = 3
    rng = np.random.default_rng(11)
    rows = [rng.integers(0, 1_000_000, 300).tolist() for _ in range(300)]
    long_row = rng.integers(0, 1_000_000, _HASH_CHUNK + 5_000).tolist()
    rows[150:150] = [long_row, [], [1, 2]]
    params = BloomParams.solve(200_000, 1e-4)
    bf = BloomSketch(params.m, params.k)
    for r in rows[:150:2] + rows[153::2] + [long_row[-n:]]:
        bf.insert_hashes(*mmh3_ngram_i32(np.array(r, np.int32), np.arange(len(r) - n + 1), n))

    arr = pa.array(rows, type=pa.list_(pa.int32()))
    flat = arr.values.to_numpy().astype(np.int32)
    offsets = arr.offsets.to_numpy().astype(np.int64)
    starts, per_doc = ngram_starts(offsets, n)
    assert len(starts) > 2 * _HASH_CHUNK
    found = bf.contains_hashes(*mmh3_ngram_i32(flat, starts, n))
    seg = np.cumsum(per_doc) - per_doc
    want = np.zeros(len(rows), dtype=bool)
    want[per_doc > 0] = np.logical_or.reduceat(found, seg[per_doc > 0])
    assert want[150] and not want[151] and not want[152] and not want.all()

    probes = spark.createDataFrame(list(enumerate(rows)), "i int, tokens array<int>").coalesce(1)
    table = spark.createDataFrame([(pack_state(bf),)], f"{SKETCH_COL} binary")
    got = probe_sketch_table(probes, table, [], token_col="tokens", ngram=n).select("i", "found")
    assert [r["found"] for r in sorted(got.collect())] == want.tolist()
