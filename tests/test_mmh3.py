"""Hash parity: numpy MurmurHash3_x64_128 vs reference golden vectors.

Golden CSV generated from the reference's mmh3.cpp (see
tests/golden/gen_mmh3_golden.cpp); covers lengths 0..257 (every tail
case of the 15-way switch) plus 256 pseudo-random blobs.
"""

from __future__ import annotations

import csv
from pathlib import Path

import numpy as np
import pytest

from marker_spark.hashing import (
    mmh3_fixed_width,
    mmh3_offsets,
    mmh3_x64_128,
)

GOLDEN = Path(__file__).parent / "golden" / "mmh3_golden.csv"


def _load_golden():
    rows = []
    with GOLDEN.open() as f:
        for rec in csv.DictReader(f):
            rows.append(
                (
                    bytes.fromhex(rec["input_hex"]),
                    int(rec["h1"], 16),
                    int(rec["h2"], 16),
                )
            )
    return rows


def test_golden_vectors_exact():
    rows = _load_golden()
    assert len(rows) == 514
    inputs = [r[0] for r in rows]
    h1, h2 = mmh3_x64_128(inputs)
    exp_h1 = np.array([r[1] for r in rows], dtype=np.uint64)
    exp_h2 = np.array([r[2] for r in rows], dtype=np.uint64)
    np.testing.assert_array_equal(h1, exp_h1)
    np.testing.assert_array_equal(h2, exp_h2)


def test_fixed_width_matches_generic():
    rng = np.random.default_rng(42)
    mat = rng.integers(0, 256, size=(100, 12), dtype=np.uint8)
    h1f, h2f = mmh3_fixed_width(mat)
    h1g, h2g = mmh3_x64_128([bytes(row) for row in mat])
    np.testing.assert_array_equal(h1f, h1g)
    np.testing.assert_array_equal(h2f, h2g)


def test_offsets_matches_generic():
    rng = np.random.default_rng(7)
    items = [bytes(rng.integers(0, 256, size=int(n), dtype=np.uint8)) for n in rng.integers(0, 80, size=50)]
    flat = np.frombuffer(b"".join(items), dtype=np.uint8)
    offsets = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in items], out=offsets[1:])
    h1o, h2o = mmh3_offsets(flat, offsets)
    h1g, h2g = mmh3_x64_128(items)
    np.testing.assert_array_equal(h1o, h1g)
    np.testing.assert_array_equal(h2o, h2g)


def test_empty_batch():
    h1, h2 = mmh3_x64_128([])
    assert len(h1) == 0 and len(h2) == 0


@pytest.mark.parametrize("text,e1", [(b"hello", None)])
def test_known_scalar(text, e1):
    # Cross-check against the python mmh3 canonical value for "hello"
    # (x64_128 seed 0): 121118445609844952839898260755277781762 little-endian.
    h1, h2 = mmh3_x64_128([text])
    combined = int(h1[0]) | (int(h2[0]) << 64)
    assert combined == 121118445609844952839898260755277781762


@pytest.mark.parametrize("n", [1, 2, 3, 5, 8])
def test_ngram_i32_matches_byte_matrix(n):
    """The fused n-gram hash equals hashing the materialized
    little-endian n-gram bytes, for every tail length — including empty
    and too-short docs and negative token ids."""
    from marker_spark.hashing import mmh3_ngram_i32
    from marker_spark.ngrams import ngram_bytes, ngram_starts

    rng = np.random.default_rng(n)
    lens = np.concatenate(([0, n - 1, n, 0], rng.integers(0, 40, size=60)))
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = rng.integers(-(2**31), 2**31, size=int(offsets[-1]), dtype=np.int64).astype(np.int32)
    flat[::7] = -1
    starts, _ = ngram_starts(offsets, n)
    h1, h2 = mmh3_ngram_i32(flat, starts, n)
    mat, _ = ngram_bytes(flat, offsets, n)
    e1, e2 = mmh3_fixed_width(mat)
    assert len(h1) == len(mat) > 0
    np.testing.assert_array_equal(h1, e1)
    np.testing.assert_array_equal(h2, e2)
