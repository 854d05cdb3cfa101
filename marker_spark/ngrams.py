"""Token n-gram extraction — the marker-materialization kernel.

The reference's "marker" is an opaque byte string
(/root/reference/markercache.h:64-68).  In this engine markers are
token n-grams from ``tokens: array<int32>`` rows, serialized
little-endian int32 — a fixed width of 4*n bytes, which feeds the
fixed-width fast path of the hash kernel.

All kernels operate on the Arrow representation (flat values + int
offsets) so a whole Arrow batch is processed with zero per-row Python.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np


def _window_starts(doc_start: np.ndarray, per_doc: np.ndarray, total: int) -> np.ndarray:
    """``doc_start[d] + (0..per_doc[d]-1)`` for each doc, concatenated:
    the window starts of ``total = per_doc.sum()`` n-grams."""
    within = np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(per_doc) - per_doc, per_doc)
    return np.repeat(doc_start, per_doc) + within


def ngram_starts(offsets: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Window-start indices into the flat token array for every n-gram.

    Returns (starts int64 [G], per_doc int64 [D]) where per_doc[d] =
    max(len_d - n + 1, 0) is the n-gram count of doc d.  Fully
    vectorized: no per-doc loop.
    """
    per_doc = np.maximum(np.diff(offsets) - n + 1, 0)
    return _window_starts(offsets[:-1], per_doc, int(per_doc.sum())), per_doc


def ngram_slices(
    offsets: np.ndarray, n: int, max_grams: int
) -> Iterator[tuple[int, int, np.ndarray]]:
    """``(row_lo, row_hi, starts)`` for consecutive row ranges that tile
    the rows of ``offsets`` in order, each holding at most
    ``max_grams`` n-grams; a row with more is a range of its own.  Rows
    are never split, so per-row results stay within one slice, and a
    caller's scratch is O(``max_grams`` + longest row) whatever the
    batch size.  ``starts`` are the slice's window starts into the flat
    token array, as :func:`ngram_starts` gives them."""
    per_doc = np.maximum(np.diff(offsets) - n + 1, 0)
    cum = np.zeros(len(per_doc) + 1, dtype=np.int64)
    np.cumsum(per_doc, out=cum[1:])
    rows, lo = len(per_doc), 0
    while lo < rows:
        # last row boundary within max_grams of lo, at least one row on
        hi = int(np.searchsorted(cum, cum[lo] + max_grams, side="right")) - 1
        hi = min(max(hi, lo + 1), rows)
        yield lo, hi, _window_starts(offsets[lo:hi], per_doc[lo:hi], int(cum[hi] - cum[lo]))
        lo = hi


def ngram_bytes(flat: np.ndarray, offsets: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Materialize every token n-gram as a [G, 4*n] uint8 matrix (LE int32).

    Returns (matrix, per_doc counts).  This matrix is exactly the
    reference's ``(char* data, data_len)`` marker batch.
    """
    starts, per_doc = ngram_starts(offsets, n)
    if len(starts) == 0:
        return np.empty((0, 4 * n), dtype=np.uint8), per_doc
    idx = starts[:, None] + np.arange(n, dtype=np.int64)[None, :]
    grams = flat[idx].astype("<i4", copy=False)  # [G, n] little-endian int32
    return np.ascontiguousarray(grams).view(np.uint8).reshape(len(starts), 4 * n), per_doc

