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


def _golden_by_len():
    """First golden vector of each length: length -> (bytes, h1, h2)."""
    out = {}
    for item, e1, e2 in _load_golden():
        out.setdefault(len(item), (item, e1, e2))
    return out


def _offsets_of(items):
    offsets = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in items], out=offsets[1:])
    return np.frombuffer(b"".join(items), dtype=np.uint8), offsets


def _assert_both_paths(items, rows):
    """The list path (pad_bytes) and the Arrow-offsets path both give
    the golden hashes of ``rows`` for ``items``."""
    exp_h1 = np.array([r[1] for r in rows], dtype=np.uint64)
    exp_h2 = np.array([r[2] for r in rows], dtype=np.uint64)
    for h1, h2 in (mmh3_x64_128(items), mmh3_offsets(*_offsets_of(list(items)))):
        np.testing.assert_array_equal(h1, exp_h1)
        np.testing.assert_array_equal(h2, exp_h2)


def test_pad_bytes_layout():
    """Every row holds its bytes, then zeros; the width is a multiple of
    16 with at least 16 zero bytes after the longest row."""
    from marker_spark.hashing import pad_bytes

    items = [b"", b"a" * 15, b"b" * 16, b"", b"c" * 33]
    padded, lengths = pad_bytes(items)
    assert lengths.tolist() == [0, 15, 16, 0, 33]
    assert padded.shape == (5, 64) and padded.dtype == np.uint8
    for row, item in zip(padded, items):
        assert bytes(row[: len(item)]) == item
        assert not row[len(item):].any()
    padded, lengths = pad_bytes([])
    assert padded.shape == (0, 32) and len(lengths) == 0


def test_empty_and_all_empty_batches():
    for h1, h2 in (mmh3_x64_128([]), mmh3_offsets(np.empty(0, np.uint8), np.zeros(1, np.int64))):
        assert len(h1) == len(h2) == 0
    empty = _golden_by_len()[0]
    _assert_both_paths([b""] * 5, [empty] * 5)


def test_block_boundary_lengths_in_one_batch():
    golden = _golden_by_len()
    lens = [0, 15, 16, 17, 31, 32, 33, 17, 0, 33, 16]
    rows = [golden[n] for n in lens]
    _assert_both_paths([r[0] for r in rows], rows)


def test_object_ndarray_input():
    golden = _golden_by_len()
    rows = [golden[n] for n in (33, 0, 16, 5, 257)]
    items = np.empty(len(rows), dtype=object)
    items[:] = [r[0] for r in rows]
    _assert_both_paths(items, rows)


def test_more_than_one_chunk_with_long_outlier():
    """Rows past ``_HASH_CHUNK`` hash in a second chunk; one 257-byte
    outlier must not disturb the short rows around it."""
    from marker_spark.hashing import _HASH_CHUNK

    golden = _golden_by_len()
    short = [golden[n] for n in (0, 1, 7, 15, 16, 17, 31)]
    rows = [short[i % len(short)] for i in range(_HASH_CHUNK + 100)]
    rows[_HASH_CHUNK - 1] = golden[257]
    rows[_HASH_CHUNK + 3] = golden[257]
    _assert_both_paths([r[0] for r in rows], rows)


def test_offsets_of_sliced_binary_array():
    """A sliced Arrow BinaryArray's offsets index its parent's whole
    values buffer and do not start at 0."""
    import pyarrow as pa

    golden = _golden_by_len()
    rows = [golden[n] for n in (3, 40, 0, 16, 17, 100, 33, 2)]
    arr = pa.array([r[0] for r in rows], type=pa.binary()).slice(2, 5)
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    assert offsets[0] > 0
    flat = np.frombuffer(arr.buffers()[2], dtype=np.uint8)
    h1, h2 = mmh3_offsets(flat, offsets)
    np.testing.assert_array_equal(h1, np.array([r[1] for r in rows[2:7]], dtype=np.uint64))
    np.testing.assert_array_equal(h2, np.array([r[2] for r in rows[2:7]], dtype=np.uint64))
    e1, e2 = mmh3_x64_128(arr.to_pylist())
    np.testing.assert_array_equal(h1, e1)
    np.testing.assert_array_equal(h2, e2)
