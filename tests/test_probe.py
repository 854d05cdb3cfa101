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
