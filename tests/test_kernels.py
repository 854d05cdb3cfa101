"""Kernel helper tests (Spark-free): marker encoding + null-group
sentinel consistency."""

from __future__ import annotations

import numpy as np
import pandas as pd

from marker_spark.agg import NULL_KEY
from marker_spark.kernels import encode_series


def test_encode_series_homogeneous_bytes():
    s = pd.Series([b"a", b"bb", b"ccc"])
    assert encode_series(s) == [b"a", b"bb", b"ccc"]


def test_encode_series_homogeneous_str():
    s = pd.Series(["a", "bb", "ccc"])
    assert encode_series(s) == [b"a", b"bb", b"ccc"]


def test_encode_series_nulls():
    assert encode_series(pd.Series([b"a", None, b"c"])) == [b"a", b"None", b"c"]
    assert encode_series(pd.Series(["a", None, "c"])) == [b"a", b"None", b"c"]
    assert encode_series(pd.Series([None, None], dtype=object)) == [b"None", b"None"]
    assert encode_series(pd.Series([], dtype=object)) == []


def test_encode_series_mixed_types():
    """A mixed bytes+str batch (raw pandas Series from foreachBatch /
    probe paths) must encode each cell by its own type (ADVICE r2:
    first-cell dispatch crashed on bytes('x') or encoded a bytes repr)."""
    assert encode_series(pd.Series([b"a", "b", b"c"], dtype=object)) == [b"a", b"b", b"c"]
    assert encode_series(pd.Series(["a", b"b", "c"], dtype=object)) == [b"a", b"b", b"c"]
    assert encode_series(pd.Series(["a", None, b"b", 7], dtype=object)) == [
        b"a", b"None", b"b", b"7",
    ]
    # numeric column still goes through the str path
    assert encode_series(pd.Series([1, 2])) == [b"1", b"2"]


def test_encode_series_bytearray_normalized():
    out = encode_series(pd.Series([bytearray(b"xy"), b"z"], dtype=object))
    assert out == [b"xy", b"z"] and all(type(v) is bytes for v in out)


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
    from marker_spark.ngrams import list_column_to_flat

    batch = pa.record_batch({"tokens": pa.array([[1, 2, 3], [4, 5], [], [6, 7, 8, 9]],
                                                type=pa.list_(pa.int32()))})
    for lo, n in [(0, 4), (1, 2), (1, 3), (2, 1), (3, 1), (4, 0)]:
        part = batch.slice(lo, n)
        flat, offsets = arrow_tokens_view(part)
        exp_flat, exp_offsets = list_column_to_flat(part.column("tokens").to_pandas())
        np.testing.assert_array_equal(flat, exp_flat)
        np.testing.assert_array_equal(offsets, exp_offsets)
        assert flat.dtype == np.int32 and offsets.dtype == np.int64
