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

import numpy as np


def ngram_starts(offsets: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Window-start indices into the flat token array for every n-gram.

    Returns (starts int64 [G], per_doc int64 [D]) where per_doc[d] =
    max(len_d - n + 1, 0) is the n-gram count of doc d.  Fully
    vectorized: no per-doc loop.
    """
    lens = np.diff(offsets)
    per_doc = np.maximum(lens - n + 1, 0)
    total = int(per_doc.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64), per_doc
    # starts = doc_start + (0..per_doc-1) for each doc
    doc_start_rep = np.repeat(offsets[:-1], per_doc)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.concatenate(([0], np.cumsum(per_doc)[:-1])), per_doc
    )
    return doc_start_rep + within, per_doc


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

