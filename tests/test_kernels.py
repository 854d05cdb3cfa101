"""Kernel helper tests (Spark-free): marker encoding + null-group
sentinel consistency."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from marker_spark.agg import NULL_KEY
from marker_spark.hashing import _HASH_CHUNK, mmh3_offsets, mmh3_x64_128
from marker_spark.kernels import arrow_marker_bytes


def _rows(arr) -> list[bytes]:
    flat, offsets = arrow_marker_bytes(arr)
    return [bytes(flat[lo:hi]) for lo, hi in zip(offsets[:-1], offsets[1:])]


def test_encode_series_homogeneous_bytes():
    assert _rows(pa.array([b"a", b"bb", b"ccc"])) == [b"a", b"bb", b"ccc"]


def test_encode_series_homogeneous_str():
    assert _rows(pa.array(["a", "bb", "ccc"])) == [b"a", b"bb", b"ccc"]
    assert _rows(pa.array(["\u00e9"], type=pa.large_string())) == ["\u00e9".encode()]


def test_encode_series_nulls():
    """A stray NULL in a bytes marker column encodes as b"None", also
    in first place (a path once chose by the first cell and then took
    len(None))."""
    assert _rows(pa.array([b"a", None, b"c"])) == [b"a", b"None", b"c"]
    assert _rows(pa.array([None, b"abc"])) == [b"None", b"abc"]
    assert _rows(pa.array(["a", None, "c"])) == [b"a", b"None", b"c"]
    assert _rows(pa.array([None, None], type=pa.binary())) == [b"None", b"None"]
    assert _rows(pa.array([], type=pa.binary())) == []


def test_encode_series_bytearray_normalized():
    """Markers built from ``bytearray`` values come back as the same
    bytes as ``bytes`` values."""
    out = _rows(pa.array([bytearray(b"xy"), b"z"]))
    assert out == [b"xy", b"z"] and all(type(v) is bytes for v in out)


def test_marker_bytes_other_types_encode_str_of_value():
    """A non-binary, non-string marker is ``str(v).encode()``, and a
    NULL among them does not change how the others encode (a nullable
    int64 once went through float64: 3 hashed as b"3.0")."""
    assert _rows(pa.array([1, 2])) == [b"1", b"2"]
    assert _rows(pa.array([3, None], type=pa.int64())) == [b"3", b"None"]
    assert _rows(pa.array([True, None])) == [b"True", b"None"]


_VALUES = {
    "binary": (pa.binary(), st.binary(max_size=40)),
    "string": (pa.string(), st.text(max_size=20)),
    "large_binary": (pa.large_binary(), st.binary(max_size=40)),
    "int64": (pa.int64(), st.integers(-(2**63), 2**63 - 1)),
}


def _reference(v) -> bytes:
    if v is None:
        return b"None"
    if isinstance(v, bytes):
        return v
    return v.encode() if isinstance(v, str) else str(v).encode()


@settings(max_examples=40, deadline=None)
@given(
    kind=st.sampled_from(sorted(_VALUES)),
    data=st.data(),
    big=st.booleans(),
    cut=st.tuples(st.integers(0, 7), st.integers(0, 7)),
)
def test_marker_bytes_hash_like_per_row_bytes(kind, data, big, cut):
    """Hashing the encoding equals ``mmh3_x64_128`` of each row's bytes
    for NULLs, empty values, sliced arrays (``offset != 0``) and
    lengths that cross a ``_HASH_CHUNK`` boundary."""
    typ, values = _VALUES[kind]
    cells = data.draw(st.lists(st.one_of(st.none(), values), min_size=1, max_size=8))
    if big:  # still longer than one hash chunk after the cut
        cells = cells * ((_HASH_CHUNK + 16) // len(cells) + 1)
    arr = pa.array(cells, type=typ)
    lo, drop = cut
    arr = arr.slice(min(lo, len(arr)), max(len(arr) - lo - drop, 0))
    want = mmh3_x64_128([_reference(v) for v in arr.to_pylist()])
    got = mmh3_offsets(*arrow_marker_bytes(arr))
    np.testing.assert_array_equal(got[0], want[0])
    np.testing.assert_array_equal(got[1], want[1])


def test_null_key_single_definition():
    """kernels.arrow_str_codes reuses agg.NULL_KEY rather than its own
    literal, so the sentinels cannot drift (ADVICE r2)."""
    import pyarrow as pa

    from marker_spark.kernels import arrow_str_codes

    batch = pa.record_batch({"g": pa.array(["x", None, "x"])})
    codes, uniques = arrow_str_codes(batch, "g")
    assert uniques[-1] == NULL_KEY
    assert list(codes) == [0, 1, 0]


def test_str_codes_nullable_integer_keys():
    """A NULL in an integer key column leaves the other keys' names and
    codes as they are without it (``"3"``, never ``"3.0"``), and int64
    keys above 2**53 stay distinct."""
    from marker_spark.kernels import arrow_str_codes

    def codes(values):
        c, u = arrow_str_codes(pa.record_batch({"g": pa.array(values, pa.int64())}), "g")
        return c.tolist(), u

    assert codes([3, 4, None]) == ([0, 1, 2], ["3", "4", NULL_KEY])
    assert codes([3, 4]) == ([0, 1], ["3", "4"])
    assert codes([4, None, 3]) == ([1, 2, 0], ["3", "4", NULL_KEY])
    big = [2**60 + 1, 2**60 + 2, None]
    assert codes(big) == ([0, 1, 2], [str(2**60 + 1), str(2**60 + 2), NULL_KEY])


@settings(max_examples=200, deadline=None)
@given(values=st.lists(st.one_of(st.none(), st.text(alphabet="ab\u00e9\u4e2d\U0001f600 ", max_size=4)),
                       max_size=30),
       lo=st.integers(0, 3))
def test_str_codes_match_pandas_factorize(values, lo):
    """On string keys (NULLs, non-ASCII, sliced batches) the codes and
    names equal pandas' sorted factorize, with NULL as the trailing
    ``NULL_KEY`` group."""
    import pandas as pd

    from marker_spark.kernels import arrow_str_codes

    batch = pa.record_batch({"g": pa.array(values, pa.string())}).slice(lo)
    codes, uniques = arrow_str_codes(batch, "g")
    want_codes, want_uniques = pd.factorize(pd.Series(values[lo:], dtype=object), sort=True)
    want_uniques = [str(u) for u in want_uniques]
    if (want_codes < 0).any():
        want_codes = np.where(want_codes < 0, len(want_uniques), want_codes)
        want_uniques.append(NULL_KEY)
    assert codes.dtype == np.int64
    assert codes.tolist() == want_codes.tolist()
    assert uniques == want_uniques


def test_arrow_tokens_view_on_sliced_batch():
    """A slice's view holds only the slice's own tokens, with offsets
    from 0 — an updater reading ``flat`` alone must not see the parent
    batch's other rows."""
    import pyarrow as pa

    from marker_spark.kernels import arrow_tokens_view
    from tests.helpers import list_column_to_flat

    batch = pa.record_batch({"tokens": pa.array([[1, 2, 3], [4, 5], [], [6, 7, 8, 9]],
                                                type=pa.list_(pa.int32()))})
    for lo, n in [(0, 4), (1, 2), (1, 3), (2, 1), (3, 1), (4, 0)]:
        part = batch.slice(lo, n)
        flat, offsets = arrow_tokens_view(part)
        exp_flat, exp_offsets = list_column_to_flat(part.column("tokens").to_pandas())
        np.testing.assert_array_equal(flat, exp_flat)
        np.testing.assert_array_equal(offsets, exp_offsets)
        assert flat.dtype == np.int32 and offsets.dtype == np.int64


@settings(max_examples=200, deadline=None)
@given(
    lengths=st.lists(st.integers(0, 12), max_size=30),
    n=st.integers(1, 4),
    max_grams=st.integers(1, 20),
)
def test_ngram_slices_tile_the_rows_and_bound_each_slice(lengths, n, max_grams):
    """The slices' starts concatenate to ``ngram_starts``; their row
    ranges tile the rows in order (empty and shorter-than-n rows
    included); a slice holds at most ``max_grams`` n-grams unless it is
    a single row."""
    from marker_spark.ngrams import ngram_slices, ngram_starts

    offsets = np.zeros(len(lengths) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    want, per_doc = ngram_starts(offsets, n)
    slices = list(ngram_slices(offsets, n, max_grams))
    got = np.concatenate([s for _, _, s in slices]) if slices else np.empty(0, np.int64)
    np.testing.assert_array_equal(got, want)
    edges = [0] + [hi for _, hi, _ in slices]
    assert [lo for lo, _, _ in slices] == edges[:-1] and edges[-1] == len(lengths)
    for lo, hi, starts in slices:
        assert lo < hi and len(starts) == per_doc[lo:hi].sum()
        assert len(starts) <= max_grams or hi - lo == 1


def test_update_scratch_is_bounded_by_one_slice():
    """One update call on a 2,000 x 1,024-token batch holds under 32 MB
    of scratch for the Bloom, HLL and CMS updaters (whole-batch hashing
    held 474, 166 and 230 MB), and leaves the state byte-identical to
    one unsliced ``insert_hashes``/``update_hashes`` call on the same
    hashes.  The marker updater matches too, past one hash chunk."""
    from marker_spark.api import _h1, _h1_h2
    from marker_spark.hashing import mmh3_ngram_i32
    from marker_spark.kernels import bloom_binary_updater, bloom_factory, bloom_ngram_updater, ngram_updater
    from marker_spark.ngrams import ngram_starts
    from marker_spark.sketches.cms import CmsSketch
    from marker_spark.sketches.hll import HllSketch
    from tests.helpers import peak_scratch

    rows, width = 2000, 1024
    flat = np.random.default_rng(5).integers(0, 50_000, rows * width, dtype=np.int32)
    offsets = np.arange(0, rows * width + 1, width, dtype=np.int32)
    batch = pa.record_batch({"tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat))})
    cases = [
        (bloom_factory(500_000, 0.001), bloom_ngram_updater(3), 3, lambda sk, h: sk.insert_hashes(*h)),
        (lambda: HllSketch(p=14), ngram_updater(3, "tokens", _h1), 3, lambda sk, h: sk.update_hashes(h[0])),
        (lambda: CmsSketch(d=5, w=1 << 16), ngram_updater(1, "tokens", _h1_h2), 1, lambda sk, h: sk.update_hashes(*h)),
    ]
    for factory, update, n, whole in cases:
        sk = factory()
        _, peak = peak_scratch(lambda: update(sk, batch))
        assert peak < 32 << 20, (type(sk).__name__, peak >> 20)
        ref = factory()
        whole(ref, mmh3_ngram_i32(flat, ngram_starts(offsets.astype(np.int64), n)[0], n))
        assert sk.to_bytes() == ref.to_bytes(), type(sk).__name__

    markers = pa.array([str(i).encode() for i in range(_HASH_CHUNK + 500)])
    sk, ref = bloom_factory(100_000, 0.01)(), bloom_factory(100_000, 0.01)()
    bloom_binary_updater("m")(sk, pa.record_batch({"m": markers}))
    ref.insert_hashes(*mmh3_offsets(*arrow_marker_bytes(markers)))
    assert sk.to_bytes() == ref.to_bytes()
