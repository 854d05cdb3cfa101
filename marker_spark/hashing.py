"""Vectorized MurmurHash3_x64_128 over batches of byte strings.

The reference hashes each marker once with MurmurHash3_x64_128 (seed 0)
and derives k Bloom probe positions from the 128-bit result via
Kirsch–Mitzenmacher double hashing (/root/reference/shmbloomfilter.cpp:12-24,
algorithm body /root/reference/mmh3.cpp:70-181).  This module reimplements
the algorithm from the public MurmurHash3 specification as a numpy batch
kernel: one call hashes N variable-length byte strings with
O(max_len/16) vectorized rounds instead of a per-row Python loop.

Exactness notes:
 * numpy uint64 arithmetic wraps modulo 2^64, matching C++ unsigned
   semantics; golden-vector tests (tests/test_mmh3.py) pin every tail
   length 0..257 against the reference binary's output.
 * The C++ tail switch (fallthrough ORs of up to 15 trailing bytes) is
   equivalent to a little-endian read of 16 zero-padded bytes, so we
   zero-pad each row and read the tail unconditionally; a zero k1/k2
   makes the tail mix a no-op, exactly like `case 0`.
"""

from __future__ import annotations

import numpy as np

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_M5 = np.uint64(5)
_A1 = np.uint64(0x52DCE729)
_A2 = np.uint64(0x38495AB5)
_F1 = np.uint64(0xFF51AFD7ED558CCD)
_F2 = np.uint64(0xC4CEB9FE1A85EC53)
_U64_1 = np.uint64(1)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _F1
    k = k ^ (k >> np.uint64(33))
    k = k * _F2
    k = k ^ (k >> np.uint64(33))
    return k


def mmh3_x64_128_padded(
    padded: np.ndarray, lengths: np.ndarray, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Hash N byte strings stored as a zero-padded uint8 matrix.

    ``padded`` is [N, L] uint8 with L a multiple of 16 and at least 16
    bytes of guaranteed zero padding after each row's ``lengths[i]``
    bytes.  Returns (h1, h2) uint64 arrays of shape [N].
    """
    n = padded.shape[0]
    lengths = lengths.astype(np.int64, copy=False)
    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)

    nblocks = lengths // 16
    max_blocks = int(nblocks.max(initial=0))
    # Little-endian uint64 view: row-major pairs (k1, k2) per 16-byte block.
    blocks = padded.view("<u8").reshape(n, -1)

    for j in range(max_blocks):
        active = nblocks > j
        k1 = blocks[:, 2 * j].copy()
        k2 = blocks[:, 2 * j + 1].copy()

        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        nh1 = h1 ^ k1
        nh1 = _rotl64(nh1, 27)
        nh1 += h2
        nh1 = nh1 * _M5 + _A1

        k2 *= _C2
        k2 = _rotl64(k2, 33)
        k2 *= _C1
        nh2 = h2 ^ k2
        nh2 = _rotl64(nh2, 31)
        nh2 += nh1
        nh2 = nh2 * _M5 + _A2

        h1 = np.where(active, nh1, h1)
        h2 = np.where(active, nh2, h2)

    # Tail: read 16 zero-padded bytes at the first byte past the last
    # full block.  Zero k's make each mix a no-op (case 0 of the switch).
    tail_off = nblocks * 16
    idx = tail_off[:, None] + np.arange(16, dtype=np.int64)[None, :]
    tail_bytes = np.take_along_axis(padded, idx, axis=1)
    tail_u64 = np.ascontiguousarray(tail_bytes).view("<u8")
    k1 = tail_u64[:, 0].copy()
    k2 = tail_u64[:, 1].copy()

    k2 *= _C2
    k2 = _rotl64(k2, 33)
    k2 *= _C1
    h2 = h2 ^ k2

    k1 *= _C1
    k1 = _rotl64(k1, 31)
    k1 *= _C2
    h1 = h1 ^ k1

    ulen = lengths.astype(np.uint64)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    h2 += h1
    return h1, h2


def _pad_flat(flat: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Scatter N back-to-back byte strings (``flat``, row i holding
    ``lengths[i]`` bytes) into the zero-padded [N, L] matrix of
    :func:`mmh3_x64_128_padded` with one masked copy: a boolean mask
    assignment fills the True cells in row-major order, which is
    exactly the order of ``flat``."""
    width = ((int(lengths.max(initial=0)) // 16) + 2) * 16  # >=16 zero bytes after every row
    padded = np.zeros((len(lengths), width), dtype=np.uint8)
    padded[np.arange(width) < lengths[:, None]] = flat
    return padded


def pad_bytes(items: list[bytes] | np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack a list (or object array) of byte strings into the
    zero-padded matrix shape required by :func:`mmh3_x64_128_padded`:
    one ``join``, then :func:`_pad_flat` — no per-row Python loop."""
    lengths = np.fromiter(map(len, items), dtype=np.int64, count=len(items))
    flat = np.frombuffer(b"".join(items), dtype=np.uint8)
    return _pad_flat(flat, lengths), lengths


def mmh3_x64_128(items: list[bytes], seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Hash a Python list of byte strings (convenience wrapper).

    Chunked like the fixed-width path (CLAUDE.md: 64k chunks measured
    6.8x on multi-M elementwise chains) — per-chunk padding also bounds
    the [chunk, max_len] scratch matrix, so one long outlier row cannot
    blow the allocation up to N * max_len."""
    n = len(items)
    if n == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    if n > _HASH_CHUNK:
        h1 = np.empty(n, dtype=np.uint64)
        h2 = np.empty(n, dtype=np.uint64)
        for lo in range(0, n, _HASH_CHUNK):
            hi = min(lo + _HASH_CHUNK, n)
            h1[lo:hi], h2[lo:hi] = mmh3_x64_128(items[lo:hi], seed)
        return h1, h2
    padded, lengths = pad_bytes(items)
    return mmh3_x64_128_padded(padded, lengths, seed=seed)


def mmh3_fixed_width(matrix: np.ndarray, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Hash N fixed-width byte rows given as an [N, W] uint8 matrix.

    Fast path for token n-grams (constant serialized width 4*n): with
    one shared length there are no per-row masks, no tail gather, and
    no padding scatter — every step is a straight slice.  Bit-exact
    with the generic kernel (asserted in tests/test_mmh3.py).
    """
    n, w = matrix.shape
    if n == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    if n > _HASH_CHUNK:
        h1 = np.empty(n, dtype=np.uint64)
        h2 = np.empty(n, dtype=np.uint64)
        for lo in range(0, n, _HASH_CHUNK):
            hi = min(lo + _HASH_CHUNK, n)
            h1[lo:hi], h2[lo:hi] = mmh3_fixed_width(matrix[lo:hi], seed)
        return h1, h2
    nblocks = w // 16
    width = (nblocks + 1) * 16
    padded = np.zeros((n, width), dtype=np.uint8)
    padded[:, :w] = matrix
    blocks = padded.view("<u8").reshape(n, -1)

    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)
    for j in range(nblocks):
        k1 = blocks[:, 2 * j].copy()
        k2 = blocks[:, 2 * j + 1].copy()
        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 += h2
        h1 = h1 * _M5 + _A1
        k2 *= _C2
        k2 = _rotl64(k2, 33)
        k2 *= _C1
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 += h1
        h2 = h2 * _M5 + _A2

    # tail: fixed offset, zero-padded to 16 bytes
    k1 = blocks[:, 2 * nblocks].copy()
    k2 = blocks[:, 2 * nblocks + 1].copy()
    k2 *= _C2
    k2 = _rotl64(k2, 33)
    k2 *= _C1
    h2 ^= k2
    k1 *= _C1
    k1 = _rotl64(k1, 31)
    k1 *= _C2
    h1 ^= k1

    ulen = np.uint64(w)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    h2 += h1
    return h1, h2


# Chunk size for cache-resident hashing: numpy can't fuse elementwise
# passes, so on multi-million-element arrays every op round-trips DRAM
# (~4M hashes/s/core); 64k-element chunks keep the ~6 live vectors in
# L2 (~26M hashes/s/core, 6.8x — measured).
_HASH_CHUNK = 1 << 16


def mmh3_ngram_i32(
    flat: np.ndarray, starts: np.ndarray, n: int, seed: int = 0
) -> tuple[np.ndarray, np.ndarray]:
    """Hash token n-grams directly from the flat int32 buffer.

    Equivalent to serializing each n-gram little-endian (4n bytes) and
    hashing with MurmurHash3_x64_128, but the 16-byte blocks / tail
    words are assembled straight from pairs of uint32 token values —
    no byte-matrix materialization, no padding scatter, ~5x less
    memory traffic than the generic path (bit-exactness asserted in
    tests against the byte-matrix path).

    flat: int32 token values; starts: int64 window-start indices.
    """
    g = len(starts)
    if g == 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    if g > _HASH_CHUNK:
        h1 = np.empty(g, dtype=np.uint64)
        h2 = np.empty(g, dtype=np.uint64)
        for lo in range(0, g, _HASH_CHUNK):
            hi = min(lo + _HASH_CHUNK, g)
            h1[lo:hi], h2[lo:hi] = mmh3_ngram_i32(flat, starts[lo:hi], n, seed)
        return h1, h2
    u = flat.view(np.uint32)

    def word(lo_idx: int, hi_idx: int | None) -> np.ndarray:
        """u64 little-endian word from tokens at offsets lo_idx/hi_idx
        of each window (hi_idx None or >= n -> zero upper half)."""
        w = u[starts + lo_idx].astype(np.uint64)
        if hi_idx is not None and hi_idx < n:
            w |= u[starts + hi_idx].astype(np.uint64) << np.uint64(32)
        return w

    h1 = np.full(g, seed, dtype=np.uint64)
    h2 = np.full(g, seed, dtype=np.uint64)
    nblocks = (4 * n) // 16  # full 16-byte blocks = 4 tokens each
    for j in range(nblocks):
        t = 4 * j
        k1 = word(t, t + 1)
        k2 = word(t + 2, t + 3)
        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 += h2
        h1 = h1 * _M5 + _A1
        k2 *= _C2
        k2 = _rotl64(k2, 33)
        k2 *= _C1
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 += h1
        h2 = h2 * _M5 + _A2

    # tail: remaining n - 4*nblocks tokens (0..3), zero-padded
    t = 4 * nblocks
    rem = n - t
    if rem > 0:
        k1 = word(t, t + 1) if rem >= 1 else np.zeros(g, dtype=np.uint64)
        k2 = word(t + 2, t + 3) if rem >= 3 else np.zeros(g, dtype=np.uint64)
        k2 *= _C2
        k2 = _rotl64(k2, 33)
        k2 *= _C1
        h2 ^= k2
        k1 *= _C1
        k1 = _rotl64(k1, 31)
        k1 *= _C2
        h1 ^= k1

    ulen = np.uint64(4 * n)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    h2 += h1
    return h1, h2


def mmh3_offsets(flat: np.ndarray, offsets: np.ndarray, seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Hash N variable-length byte strings stored Arrow-style: a flat
    uint8 buffer plus int offsets of length N+1 (row i spans
    flat[offsets[i]:offsets[i+1]]; offsets need not start at 0, as in a
    sliced Arrow BinaryArray).  The fast path when the input already
    lives in Arrow buffers: no Python bytes objects, one masked copy
    into the padded matrix (:func:`_pad_flat`).

    Chunked on rows (see :func:`mmh3_x64_128`): each chunk pads to its
    OWN max length, keeping scratch in cache and bounding allocation."""
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    if n <= 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    if n > _HASH_CHUNK:
        h1 = np.empty(n, dtype=np.uint64)
        h2 = np.empty(n, dtype=np.uint64)
        for lo in range(0, n, _HASH_CHUNK):
            hi = min(lo + _HASH_CHUNK, n)
            h1[lo:hi], h2[lo:hi] = mmh3_offsets(flat, offsets[lo : hi + 1], seed)
        return h1, h2
    lengths = np.diff(offsets)
    padded = _pad_flat(flat[offsets[0] : offsets[-1]], lengths)
    return mmh3_x64_128_padded(padded, lengths, seed=seed)
