"""Reference helpers shared by the tests (not collected as tests)."""

from __future__ import annotations

import numpy as np


def list_column_to_flat(series) -> tuple[np.ndarray, np.ndarray]:
    """Per-row reference for ``kernels.arrow_list_view``: a sequence of
    int lists (a pandas Series of list<int32>, or a Python list) ->
    (flat int32, offsets int64)."""
    values = list(series)
    lengths = np.fromiter(map(len, values), dtype=np.int64, count=len(values))
    offsets = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    if offsets[-1] == 0:
        return np.empty(0, dtype=np.int32), offsets
    flat = np.concatenate(values).astype(np.int32, copy=False)
    return flat, offsets


def peak_scratch(fn) -> tuple[object, int]:
    """``(fn(), peak bytes)``: the most memory Python and numpy held at
    once during the call above what they held before it (tracemalloc)."""
    import tracemalloc

    tracemalloc.start()
    try:
        tracemalloc.reset_peak()
        base = tracemalloc.get_traced_memory()[0]
        out = fn()
        return out, tracemalloc.get_traced_memory()[1] - base
    finally:
        tracemalloc.stop()
