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
from hypothesis import given, settings
from hypothesis import strategies as st

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
    """The list path and the Arrow-offsets path both give the golden
    hashes of ``rows`` for ``items``."""
    exp_h1 = np.array([r[1] for r in rows], dtype=np.uint64)
    exp_h2 = np.array([r[2] for r in rows], dtype=np.uint64)
    for h1, h2 in (mmh3_x64_128(items), mmh3_offsets(*_offsets_of(list(items)))):
        np.testing.assert_array_equal(h1, exp_h1)
        np.testing.assert_array_equal(h2, exp_h2)


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


# --- an independent oracle: scalar MurmurHash3_x64_128 in plain Python ------

_M64 = (1 << 64) - 1
_C1, _C2 = 0x87C37B91114253D5, 0x4CF5AD432745937F


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    return k ^ (k >> 33)


def scalar_mmh3(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3_x64_128 of one byte string, one block at a time, with
    the reference's byte-by-byte tail switch."""
    h1 = h2 = seed
    nblocks = len(data) // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[16 * i : 16 * i + 8], "little")
        k2 = int.from_bytes(data[16 * i + 8 : 16 * i + 16], "little")
        k1 = (_rotl((k1 * _C1) & _M64, 31) * _C2) & _M64
        h1 = ((_rotl(h1 ^ k1, 27) + h2) * 5 + 0x52DCE729) & _M64
        k2 = (_rotl((k2 * _C2) & _M64, 33) * _C1) & _M64
        h2 = ((_rotl(h2 ^ k2, 31) + h1) * 5 + 0x38495AB5) & _M64
    tail = data[16 * nblocks :]
    k1 = k2 = 0
    for i in reversed(range(len(tail))):  # case 15 ... case 1, falling through
        if i >= 8:
            k2 ^= tail[i] << (8 * (i - 8))
        else:
            k1 ^= tail[i] << (8 * i)
    if len(tail) > 8:
        h2 ^= (_rotl((k2 * _C2) & _M64, 33) * _C1) & _M64
    if len(tail) > 0:
        h1 ^= (_rotl((k1 * _C1) & _M64, 31) * _C2) & _M64
    h1 ^= len(data)
    h2 ^= len(data)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1, h2 = _fmix(h1), _fmix(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def test_long_outlier_scratch_is_bounded():
    """One 200 KB marker among 1,000 short ones: scratch stays a small
    multiple of the input bytes (a padded [N, max_len] matrix would take
    ~200 MB), and every hash is exact."""
    import tracemalloc

    golden = _golden_by_len()
    rows = [golden[n % 40] for n in range(1000)]
    big = bytes(np.random.default_rng(3).integers(0, 256, size=200_000, dtype=np.uint8))
    items = [r[0] for r in rows]
    items.insert(500, big)
    n_bytes = sum(map(len, items))
    tracemalloc.start()
    try:
        h1, h2 = mmh3_x64_128(items)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak <= 8 * n_bytes, (peak, n_bytes)
    want = [(r[1], r[2]) for r in rows]
    want.insert(500, scalar_mmh3(big))
    np.testing.assert_array_equal(h1, np.array([w[0] for w in want], dtype=np.uint64))
    np.testing.assert_array_equal(h2, np.array([w[1] for w in want], dtype=np.uint64))


@settings(max_examples=40, deadline=None)
@given(
    items=st.lists(st.binary(min_size=0, max_size=300), min_size=1, max_size=40),
    before=st.integers(0, 40),
    seed=st.integers(1, 2**32 - 1),
    junk=st.tuples(st.binary(max_size=20), st.binary(max_size=20)),
    data=st.data(),
)
def test_offsets_match_scalar_oracle_across_chunk_boundary(items, before, seed, junk, data):
    """Random byte strings in random order, the first ``before`` of them
    ending a full ``_HASH_CHUNK`` of rows and the rest starting the next
    chunk, read through offsets into a buffer with bytes before and
    after the span, under a non-zero seed: every hash equals the scalar
    oracle's."""
    from marker_spark.hashing import _HASH_CHUNK

    items = data.draw(st.permutations(items))
    before = min(before, len(items))
    filler = [b"", b"f" * 17]
    rows = [filler[i % 2] for i in range(_HASH_CHUNK - before)] + list(items)
    lengths = np.fromiter(map(len, rows), dtype=np.int64, count=len(rows))
    offsets = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.frombuffer(junk[0] + b"".join(rows) + junk[1], dtype=np.uint8)
    h1, h2 = mmh3_offsets(flat, offsets + len(junk[0]), seed=seed)
    want = {b: scalar_mmh3(b, seed) for b in set(rows)}
    np.testing.assert_array_equal(h1, np.array([want[b][0] for b in rows], dtype=np.uint64))
    np.testing.assert_array_equal(h2, np.array([want[b][1] for b in rows], dtype=np.uint64))
    l1, l2 = mmh3_x64_128(rows, seed=seed)
    np.testing.assert_array_equal(l1, h1)
    np.testing.assert_array_equal(l2, h2)
