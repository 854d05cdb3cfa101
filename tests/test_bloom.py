"""Bloom reference-parity suite.

Mirrors the reference's writer-side unit tests
(/root/reference/DBAppUnitTests.cpp): zero false negatives on 100k
inserts, observed FP within 30% relative of the configured bound on a
disjoint probe set, plus sizing-formula parity and merge/serde
invariants the reference implies but never tests.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from marker_spark.datagen import gen_markers
from marker_spark.hashing import mmh3_x64_128
from marker_spark.params import BloomParams, CacheParams
from marker_spark.sketches.bloom import BloomSketch

# Reference test config: duration=30min, lifespan=90min, fp=0.001,
# capacity=100k per filter * num_filters (DBAppUnitTests.cpp:27-36,93).
N = 100_000
FP = 0.001


def _ref_sizing(capacity: int, fp: float) -> tuple[int, int]:
    # The formulas of markercache.cpp:22-30, evaluated independently here
    # so the test doesn't just re-run the implementation under test.
    m = math.ceil(-(capacity * math.log(fp)) / (math.log(2) ** 2))
    k = math.ceil((m / capacity) * math.log(2))
    return m, k


def test_sizing_formula_parity():
    cp = CacheParams(duration=30 * 60, lifespan=90 * 60, fp=FP, total_capacity=N * 4)
    m, k = _ref_sizing(N * 4, FP)
    assert cp.num_filters == 4  # ceil(90/30)+1
    assert cp.m_total == m
    assert cp.k == k
    assert cp.filter_bits == math.ceil(m / 4)


@pytest.fixture(scope="module")
def filled():
    params = BloomParams.solve(N, FP)
    bf = BloomSketch(params.m, params.k)
    a, _ = gen_markers(N, seed=42)
    bf.insert_fixed_width(a)
    return bf, a


def test_no_false_negatives(filled):
    # DBAppUnitTests.cpp:97-106 — the hard invariant.
    bf, a = filled
    assert bool(bf.contains_fixed_width(a).all())


def test_false_positive_rate(filled):
    # DBAppUnitTests.cpp:108-125 — disjoint probe set, 30% relative tol.
    bf, _ = filled
    b, _ = gen_markers(N, seed=43)  # different width and content
    fp_observed = float(bf.contains_fixed_width(b).mean())
    assert fp_observed == pytest.approx(FP, rel=0.30)


def test_merge_equals_single_build(filled):
    params = BloomParams.solve(N, FP)
    a, _ = gen_markers(2000, seed=7)
    whole = BloomSketch(params.m, params.k)
    whole.insert_fixed_width(a)
    # Split into 3 uneven parts, build separately, merge in a scrambled order.
    parts = [a[:300], a[300:1200], a[1200:]]
    sketches = []
    for p in parts:
        s = BloomSketch(params.m, params.k)
        s.insert_fixed_width(p)
        sketches.append(s)
    merged = sketches[2]
    merged.merge_in_place(sketches[0]).merge_in_place(sketches[1])
    np.testing.assert_array_equal(merged.blocks, whole.blocks)
    assert merged.n_inserted == whole.n_inserted


def test_serde_roundtrip(filled):
    bf, a = filled
    buf = bf.to_bytes()
    back = BloomSketch.from_bytes(buf)
    assert (back.m, back.k, back.n_inserted) == (bf.m, bf.k, bf.n_inserted)
    np.testing.assert_array_equal(back.blocks, bf.blocks)
    assert bool(back.contains_fixed_width(a[:100]).all())


def test_merge_param_mismatch_rejected():
    a = BloomSketch(1024, 3)
    b = BloomSketch(2048, 3)
    with pytest.raises(ValueError, match="incompatible"):
        a.merge_in_place(b)


def test_empty_filter_contains_nothing():
    bf = BloomSketch(4096, 5)
    probes, _ = gen_markers(1000, seed=5)
    assert not bf.contains_fixed_width(probes).any()


def test_variable_length_inserts():
    bf = BloomSketch(1 << 16, 7)
    items = [b"", b"a", b"hello world", b"x" * 300]
    bf.insert_hashes(*mmh3_x64_128(items))
    assert bool(bf.contains_hashes(*mmh3_x64_128(items)).all())
