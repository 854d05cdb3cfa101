"""Merge-associativity property tests (hypothesis).

north_rule: merge associativity verified across arbitrary partition
orderings — identical state bytes for Bloom/HLL/CMS (exact combines),
within-bound estimates for KLL/t-digest (bound-preserving combines).
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from marker_spark.sketches.bloom import BloomSketch
from marker_spark.hashing import mmh3_x64_128
from marker_spark.sketches.cms import CmsSketch
from marker_spark.sketches.hll import HllSketch
from marker_spark.sketches.kll import KllSketch
from marker_spark.sketches.tdigest import TDigestSketch

N_ITEMS = 3000
_ITEMS = [int(i).to_bytes(8, "little") for i in np.random.default_rng(42).integers(0, 10**9, N_ITEMS)]
_VALUES = np.random.default_rng(42).lognormal(2, 1, N_ITEMS)


def _partition(items, cuts: list[int]):
    bounds = sorted(set([0] + [c % len(items) for c in cuts] + [len(items)]))
    return [items[a:b] for a, b in zip(bounds[:-1], bounds[1:]) if b > a]


def _merge_in_order(sketches, order):
    acc = sketches[order[0]]
    for i in order[1:]:
        acc.merge_in_place(sketches[i])
    return acc


perm_strategy = st.permutations(range(6))
cuts_strategy = st.lists(st.integers(1, N_ITEMS - 1), min_size=5, max_size=5)


@settings(max_examples=20, deadline=None)
@given(cuts=cuts_strategy, order=perm_strategy)
def test_bloom_state_order_invariant(cuts, order):
    parts = _partition(_ITEMS, cuts)
    order = [o for o in order if o < len(parts)]

    def build(p):
        s = BloomSketch(1 << 16, 7)
        s.insert_hashes(*mmh3_x64_128(p))
        return s

    a = _merge_in_order([build(p) for p in parts], order)
    b = _merge_in_order([build(p) for p in parts], list(range(len(parts))))
    np.testing.assert_array_equal(a.blocks, b.blocks)


@settings(max_examples=20, deadline=None)
@given(cuts=cuts_strategy, order=perm_strategy)
def test_hll_cms_state_order_invariant(cuts, order):
    parts = _partition(_ITEMS, cuts)
    order = [o for o in order if o < len(parts)]

    def build_hll(p):
        s = HllSketch(p=10)
        s.update(p)
        return s

    def build_cms(p):
        s = CmsSketch(d=4, w=512)
        s.update(p)
        return s

    h_a = _merge_in_order([build_hll(p) for p in parts], order)
    h_b = _merge_in_order([build_hll(p) for p in parts], list(range(len(parts))))
    np.testing.assert_array_equal(h_a.registers, h_b.registers)
    assert h_a.to_bytes() == h_b.to_bytes()

    c_a = _merge_in_order([build_cms(p) for p in parts], order)
    c_b = _merge_in_order([build_cms(p) for p in parts], list(range(len(parts))))
    np.testing.assert_array_equal(c_a.grid, c_b.grid)
    assert c_a.to_bytes() == c_b.to_bytes()


@settings(max_examples=15, deadline=None)
@given(cuts=cuts_strategy, order=perm_strategy)
def test_quantile_sketches_order_within_bound(cuts, order):
    bounds_vals = np.sort(_VALUES)
    parts = _partition(list(_VALUES), cuts)
    order = [o for o in order if o < len(parts)]

    def build_kll(p):
        s = KllSketch(k=200)
        s.update(np.asarray(p))
        return s

    def build_td(p):
        s = TDigestSketch(delta=150)
        s.update(np.asarray(p))
        return s

    kll = _merge_in_order([build_kll(p) for p in parts], order)
    td = _merge_in_order([build_td(p) for p in parts], order)
    assert kll.n == N_ITEMS
    for q in (0.1, 0.5, 0.9):
        e_kll = kll.quantile(q)
        rank_kll = np.searchsorted(bounds_vals, e_kll, side="right") / N_ITEMS
        assert abs(rank_kll - q) <= kll.rank_error
        e_td = td.quantile(q)
        rank_td = np.searchsorted(bounds_vals, e_td, side="right") / N_ITEMS
        assert abs(rank_td - q) <= 0.05


@settings(max_examples=20, deadline=None)
@given(cuts=cuts_strategy, order=perm_strategy)
def test_minhash_theta_state_order_invariant(cuts, order):
    """MinHash (elementwise min) and Theta/KMV (k smallest hashes) are
    exactly order-invariant: identical state bytes across arbitrary
    partition merge orders."""
    from marker_spark.sketches.minhash import MinHashSketch
    from marker_spark.sketches.theta import ThetaSketch

    parts = _partition(_ITEMS, cuts)
    order = [o for o in order if o < len(parts)]

    def build_mh(p):
        s = MinHashSketch(num_perm=64)
        s.update(p)
        return s

    a = _merge_in_order([build_mh(p) for p in parts], order)
    b = _merge_in_order([build_mh(p) for p in parts], list(range(len(parts))))
    assert a.to_bytes() == b.to_bytes()

    def build_th(p):
        s = ThetaSketch(k=256)
        s.update(p)
        return s

    ta = _merge_in_order([build_th(p) for p in parts], order)
    tb = _merge_in_order([build_th(p) for p in parts], list(range(len(parts))))
    assert ta.to_bytes() == tb.to_bytes()
