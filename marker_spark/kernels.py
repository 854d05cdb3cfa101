"""Vectorized update kernels binding sketches to the tokenized-sequence
schema (doc_id string, tokens array<int32>, n_tok int32, source string).

Every update kernel consumes a whole Arrow RecordBatch and runs
numpy-only math — no per-row Python in the hot path
(BASELINE.json:input_hint).  The probe side lives in
:mod:`marker_spark.probe` and :mod:`marker_spark.cache.sketch_cache`.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np
import pandas as pd

from .hashing import mmh3_ngram_i32
from .ngrams import ngram_starts
from .params import BloomParams
from .sketches.bloom import BloomSketch


# --- Arrow-native batch access ------------------------------------------------

def arrow_tokens_view(batch, token_col: str = "tokens"):
    """Zero-copy view of a RecordBatch's token column: (flat int32
    values, int64 offsets from 0).  No per-row Python objects.  On a
    sliced batch ``flat`` holds only the slice's own tokens."""
    import pyarrow as pa

    col = batch.column(batch.schema.get_field_index(token_col))
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    # A slice's offsets index into the parent's whole values buffer:
    # cut that buffer to the slice's span and rebase the offsets to 0.
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = (int(offsets[0]), int(offsets[-1])) if len(offsets) else (0, 0)
    flat = col.values.slice(lo, hi - lo).to_numpy(zero_copy_only=False)
    return flat.astype(np.int32, copy=False), offsets - lo


def arrow_str_codes(batch, col_name: str):
    """Group codes for a string column: (codes int64 per row, uniques list).

    Null keys map to a trailing ``agg.NULL_KEY`` group instead of
    factorize's -1 sentinel, so callers can index partial-state arrays
    directly and null-keyed rows still reach a sketch.  The sentinel is
    imported (not re-hardcoded) so the two code paths can never drift."""
    from .agg import NULL_KEY

    arr = batch.column(batch.schema.get_field_index(col_name))
    codes, uniques = pd.factorize(arr.to_pandas(), sort=True)
    codes = codes.astype(np.int64)
    uniques = [str(u) for u in uniques]
    if (codes < 0).any():
        codes = np.where(codes < 0, len(uniques), codes)
        uniques = uniques + [NULL_KEY]
    return codes, uniques


# --- updaters (sketch, batch) -> None ---------------------------------------

def encode_series(s: pd.Series) -> list[bytes]:
    """Coerce a marker column to a list of bytes without a per-row
    Python comprehension: bytes cells pass through; everything else
    goes through the C-level ``Series.astype(str).str.encode`` path.
    The path is chosen from the first NON-NULL cell, and null cells
    encode as b"None" (matching the historical str(v).encode behavior)
    — a batch of bytes markers with a stray NULL must not crash the
    task.  Spark columns are type-homogeneous so the fast path always
    wins there, but the helper also sees raw pandas Series (foreachBatch
    / probe paths), where a MIXED bytes+str batch falls back to a
    per-row isinstance dispatch instead of crashing (bytes(str)) or
    silently encoding a bytes repr (str(bytes))."""
    if len(s) == 0:
        return []
    # Homogeneity check via pandas' C-level type sniffer: ~10ms/M rows
    # vs ~100-300ms/M for an interpreted isinstance scan (measured) —
    # this runs on every Bloom insert/lookup batch, so the check must
    # not cost more than the encode it guards.
    kind = pd.api.types.infer_dtype(s, skipna=True)
    if kind == "empty":  # all null
        return [b"None"] * len(s)
    if kind == "bytes":
        na = s.isna()
        if na.any():
            return [b"None" if n else bytes(v) for v, n in zip(s, na)]
        return list(s)
    if not kind.startswith("mixed"):
        # string / integer / floating / boolean / ... — one C-level
        # encode pass; nulls become b'None' via astype(str)
        return list(s.astype(str).str.encode("utf-8"))
    # mixed batch (bytes alongside str/other): per-row dispatch
    na = s.isna()
    return [
        b"None" if n
        else (bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8"))
        for v, n in zip(s, na)
    ]


def ngram_updater(
    n: int, token_col: str, insert: Callable[[Any, np.ndarray, np.ndarray], None]
) -> Callable[[Any, Any], None]:
    """``update(sk, batch)`` that hashes every token n-gram of the
    batch's rows — MurmurHash3_x64_128 of the little-endian int32
    n-gram bytes, fused straight off the Arrow buffer — and hands the
    (h1, h2) vectors to ``insert(sk, h1, h2)``.  A batch without a
    single n-gram never reaches ``insert``.  Raises ``ValueError`` for
    ``n < 1`` (every "n-gram" would hash the same empty byte string)."""
    if n < 1:
        raise ValueError(f"ngram must be >= 1, got {n}")

    def update(sk, batch) -> None:
        flat, offsets = arrow_tokens_view(batch, token_col)
        starts, _ = ngram_starts(offsets, n)
        if len(starts):
            insert(sk, *mmh3_ngram_i32(flat, starts, n))

    return update


def bloom_ngram_updater(n: int, token_col: str = "tokens") -> Callable[[Any, Any], None]:
    """Insert every token n-gram of each row into a Bloom sketch."""
    return ngram_updater(n, token_col, lambda sk, h1, h2: sk.insert_hashes(h1, h2))


def bloom_binary_updater(col: str) -> Callable[[Any, Any], None]:
    """Insert a binary/string column's byte values (reference marker path)."""

    def update(sk: BloomSketch, batch) -> None:
        sk.insert(encode_series(batch.column(col).to_pandas()))

    return update


def bloom_factory(capacity: int, fp: float) -> Callable[..., BloomSketch]:
    """Fixed-size Bloom factory; callable with a group key or without."""
    params = BloomParams.solve(capacity, fp)
    return lambda key=None: BloomSketch(params.m, params.k)

