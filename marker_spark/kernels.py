"""Vectorized update kernels binding sketches to the tokenized-sequence
schema (doc_id string, tokens array<int32>, n_tok int32, source string).

Every update kernel consumes a whole Arrow RecordBatch and runs
numpy-only math — no per-row Python in the hot path
(BASELINE.json:input_hint) — over consecutive row slices of at most
``_HASH_CHUNK`` n-grams (or markers), so its scratch is bounded by the
slice, not by the batch.  The probe side lives in
:mod:`marker_spark.probe` and :mod:`marker_spark.cache.sketch_cache`.
"""

from __future__ import annotations

from typing import Any, Callable

import numpy as np

from .hashing import _HASH_CHUNK, mmh3_ngram_i32, mmh3_offsets
from .ngrams import ngram_slices
from .params import BloomParams
from .sketches.bloom import BloomSketch


# --- Arrow-native batch access ------------------------------------------------

def arrow_list_view(col) -> tuple[np.ndarray, np.ndarray]:
    """Zero-copy view of a list array: (flat numpy values, int64
    offsets from 0).  No per-row Python objects.  On a sliced array
    ``flat`` holds only the slice's own values."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    # A slice's offsets index into the parent's whole values buffer:
    # cut that buffer to the slice's span and rebase the offsets to 0.
    offsets = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = (int(offsets[0]), int(offsets[-1])) if len(offsets) else (0, 0)
    flat = col.values.slice(lo, hi - lo).to_numpy(zero_copy_only=False)
    return flat, offsets - lo


def arrow_tokens_view(batch, token_col: str = "tokens"):
    """:func:`arrow_list_view` of a RecordBatch's token column, with the
    values as int32."""
    flat, offsets = arrow_list_view(batch.column(batch.schema.get_field_index(token_col)))
    return flat.astype(np.int32, copy=False), offsets


def arrow_marker_bytes(arr) -> tuple[np.ndarray, np.ndarray]:
    """The one marker encoding: (flat uint8, int64 offsets) of a marker
    array, as :func:`hashing.mmh3_offsets` takes them.  Binary and
    string arrays (and their large variants) are read from their own
    buffers; any other type encodes each value as ``str(v).encode()``
    of its Python value.  NULL encodes as ``b"None"`` either way, so a
    marker hashes the same whatever else its batch holds."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    large = pa.types.is_large_binary(arr.type) or pa.types.is_large_string(arr.type)
    if not (large or pa.types.is_binary(arr.type) or pa.types.is_string(arr.type)):
        arr = pa.array(
            [b"None" if v is None else str(v).encode() for v in arr.to_pylist()],
            type=pa.binary(),
        )
    elif arr.null_count:
        arr = arr.fill_null(b"None")
    _, offs, data = arr.buffers()
    offsets = np.frombuffer(offs, dtype=np.int64 if large else np.int32)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1]
    flat = np.frombuffer(data, dtype=np.uint8) if data is not None else np.empty(0, np.uint8)
    return flat, offsets.astype(np.int64)


def arrow_str_codes(batch, col_name: str):
    """Group codes for a column: (codes int64 per row, uniques list).

    Uniques are ``str(v)`` of each distinct value's Python value, in
    sorted order (UTF-8 byte order is code-point order, so strings sort
    as Python sorts them); the codes index them.  A NULL key maps to a
    trailing ``agg.NULL_KEY`` group, so callers can index partial-state
    arrays directly and null-keyed rows still reach a sketch.  The
    sentinel is imported (not re-hardcoded) so the two code paths can
    never drift.  A nullable integer column keys as ``"3"`` whether or
    not its batch holds a NULL."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .agg import NULL_KEY

    arr = batch.column(batch.schema.get_field_index(col_name))
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    # NULL becomes a dictionary entry of its own, which sorts last
    enc = arr.dictionary_encode(null_encoding="encode")
    order = pc.array_sort_indices(enc.dictionary).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    codes = rank[enc.indices.to_numpy()]
    uniques = [NULL_KEY if v is None else str(v)
               for v in enc.dictionary.take(pa.array(order)).to_pylist()]
    return codes, uniques


# --- updaters (sketch, batch) -> None ---------------------------------------

def ngram_updater(
    n: int, token_col: str, insert: Callable[[Any, np.ndarray, np.ndarray], None]
) -> Callable[[Any, Any], None]:
    """``update(sk, batch)`` that hashes every token n-gram of the
    batch's rows — MurmurHash3_x64_128 of the little-endian int32
    n-gram bytes, fused straight off the Arrow buffer — and hands the
    (h1, h2) vectors to ``insert(sk, h1, h2)``, one row slice of at
    most ``_HASH_CHUNK`` n-grams (or one longer row) at a time
    (:func:`ngrams.ngram_slices`).  A slice without a single n-gram
    never reaches ``insert``.  Raises ``ValueError`` for
    ``n < 1`` (every "n-gram" would hash the same empty byte string)."""
    if n < 1:
        raise ValueError(f"ngram must be >= 1, got {n}")

    def update(sk, batch) -> None:
        flat, offsets = arrow_tokens_view(batch, token_col)
        for _, _, starts in ngram_slices(offsets, n, _HASH_CHUNK):
            if len(starts):
                insert(sk, *mmh3_ngram_i32(flat, starts, n))

    return update


def bloom_ngram_updater(n: int, token_col: str = "tokens") -> Callable[[Any, Any], None]:
    """Insert every token n-gram of each row into a Bloom sketch."""
    return ngram_updater(n, token_col, lambda sk, h1, h2: sk.insert_hashes(h1, h2))


def bloom_binary_updater(col: str) -> Callable[[Any, Any], None]:
    """Insert a binary/string column's byte values (reference marker
    path), ``_HASH_CHUNK`` markers at a time."""

    def update(sk: BloomSketch, batch) -> None:
        flat, offsets = arrow_marker_bytes(batch.column(col))
        for lo in range(0, len(offsets) - 1, _HASH_CHUNK):
            sk.insert_hashes(*mmh3_offsets(flat, offsets[lo : lo + _HASH_CHUNK + 1]))

    return update


def bloom_factory(capacity: int, fp: float) -> Callable[..., BloomSketch]:
    """Fixed-size Bloom factory; callable with a group key or without."""
    params = BloomParams.solve(capacity, fp)
    return lambda key=None: BloomSketch(params.m, params.k)

