"""Per-partition checkpoint/resume tests for the Arrow build path
(north_rule: jobs resumable from per-partition checkpoints with
lineage + metrics per partition)."""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F

from marker_spark.agg import (
    SKETCH_COL,
    build_partials_arrow,
    collect_sketch,
    merge_partials,
)
from marker_spark.hashing import mmh3_ngram_i32
from marker_spark.kernels import arrow_tokens_view, bloom_factory
from marker_spark.ngrams import ngram_starts
from marker_spark.sketches.bloom import BloomSketch


def _batch_update(states, batch):
    flat, offsets = arrow_tokens_view(batch)
    starts, _ = ngram_starts(offsets, 3)
    h1, h2 = mmh3_ngram_i32(flat, starts, 3)
    sk = states.get(("__all__",))
    if sk is None:
        sk = states[("__all__",)] = bloom_factory(capacity=500_000, fp=0.001)()
    sk.insert_hashes(h1, h2)


def test_checkpointed_build_resumes(spark, tokseq_path, tmp_path):
    df = spark.read.parquet(tokseq_path).repartition(6)
    ckpt = str(tmp_path / "partials")

    t0 = time.monotonic()
    p1 = build_partials_arrow(df, _batch_update, ckpt_dir=ckpt)
    fresh = collect_sketch(merge_partials(p1, BloomSketch), BloomSketch)
    fresh_secs = time.monotonic() - t0

    files = sorted(os.listdir(ckpt))
    parts = [f for f in files if f.startswith("part-")]
    metrics = [f for f in files if f.startswith("metrics-")]
    assert len(parts) == len(metrics) > 0
    # lineage/metrics content
    m = json.load(open(os.path.join(ckpt, metrics[0])))
    assert m["rows"] > 0 and m["bytes"] > 0 and m["secs"] >= 0 and m["groups"] >= 1

    # Resume: same input/plan replays from checkpoints; result identical.
    p2 = build_partials_arrow(df, _batch_update, ckpt_dir=ckpt)
    resumed = collect_sketch(merge_partials(p2, BloomSketch), BloomSketch)
    np.testing.assert_array_equal(resumed.blocks, fresh.blocks)
    assert resumed.n_inserted == fresh.n_inserted


def test_partial_kill_recovers(spark, tokseq_path, tmp_path):
    """Simulate a mid-job crash: only some partition checkpoints exist;
    the rerun recomputes the missing ones and matches a clean build."""
    df = spark.read.parquet(tokseq_path).repartition(6)
    ckpt_full = str(tmp_path / "full")
    clean = collect_sketch(
        merge_partials(build_partials_arrow(df, _batch_update, ckpt_dir=ckpt_full), BloomSketch),
        BloomSketch,
    )
    # "crash": drop half the checkpoints (and their metrics)
    for f in sorted(os.listdir(ckpt_full))[::2]:
        os.remove(os.path.join(ckpt_full, f))
    recovered = collect_sketch(
        merge_partials(build_partials_arrow(df, _batch_update, ckpt_dir=ckpt_full), BloomSketch),
        BloomSketch,
    )
    np.testing.assert_array_equal(recovered.blocks, clean.blocks)
    assert recovered.n_inserted == clean.n_inserted


def test_uncheckpointed_path_unchanged(spark, tokseq_path):
    df = spark.read.parquet(tokseq_path).repartition(4)
    a = collect_sketch(merge_partials(build_partials_arrow(df, _batch_update), BloomSketch), BloomSketch)
    b = collect_sketch(merge_partials(build_partials_arrow(df, _batch_update), BloomSketch), BloomSketch)
    np.testing.assert_array_equal(a.blocks, b.blocks)


def test_incremental_merge_into(spark, tmp_path):
    """--merge-into: day-2 increment merges into day-1's sketch table
    without rebuilding history; the result answers membership for BOTH
    days with zero false negatives, and existing groups keep their
    (m, k) sizing so the OR-merge is well-defined."""
    from jobs.build_sketches import main as build_main
    from marker_spark.agg import SKETCH_COL, collect_sketches
    from marker_spark.datagen import write_tokenized_sequences
    from marker_spark.ngrams import ngram_bytes
    from tests.helpers import list_column_to_flat
    from marker_spark.sketches.bloom import BloomSketch

    day1 = str(tmp_path / "day1.parquet")
    day2 = str(tmp_path / "day2.parquet")
    write_tokenized_sequences(day1, n_docs=2000, seed=1)
    write_tokenized_sequences(day2, n_docs=2000, seed=2)
    t1, t2 = str(tmp_path / "tbl1"), str(tmp_path / "tbl2")
    build_main(["--input", day1, "--output", t1])
    build_main(["--input", day2, "--output", t2, "--merge-into", t1])

    merged = collect_sketches(
        spark.read.parquet(t2), BloomSketch, ["source"]
    )
    prev = collect_sketches(spark.read.parquet(t1), BloomSketch, ["source"])
    for key in prev:
        assert merged[key].m == prev[key].m and merged[key].k == prev[key].k

    # zero FN across both days
    import pandas as pd

    for path in (day1, day2):
        pdf = pd.read_parquet(path)
        for src, sub in pdf.groupby("source"):
            flat, offsets = list_column_to_flat(sub["tokens"])
            mat, _ = ngram_bytes(flat, offsets, 3)
            if len(mat) and (src,) in merged:
                assert merged[(src,)].contains_fixed_width(mat).all(), (path, src)
