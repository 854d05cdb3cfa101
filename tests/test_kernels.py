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
