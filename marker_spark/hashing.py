"""Vectorized MurmurHash3_x64_128 over batches of byte strings.

The reference hashes each marker once with MurmurHash3_x64_128 (seed 0)
and derives k Bloom probe positions from the 128-bit result via
Kirsch–Mitzenmacher double hashing (/root/reference/shmbloomfilter.cpp:12-24,
algorithm body /root/reference/mmh3.cpp:70-181).  This module reimplements
the algorithm from the public MurmurHash3 specification as numpy batch
kernels: one call hashes N variable-length byte strings with
O(max_len/16) vectorized rounds instead of a per-row Python loop.

Exactness notes:
 * numpy uint64 arithmetic wraps modulo 2^64, matching C++ unsigned
   semantics; golden-vector tests (tests/test_mmh3.py) pin every tail
   length 0..257 against the reference binary's output.
 * The C++ tail switch (fallthrough ORs of up to 15 trailing bytes) is
   equivalent to a little-endian read of the two words after the last
   full block with the bytes past the row's end masked to zero, so the
   variable-length kernel reads both tail words unconditionally and
   masks them by the remaining length; a zero k1/k2 makes the tail mix
   a no-op, exactly like `case 0`.
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
_R27, _R31, _R33, _R37 = (np.uint64(r) for r in (27, 31, 33, 37))
# _TAIL_MASK[r] keeps the low r bytes of a little-endian word (r = 0..8)
_TAIL_MASK = np.array([(1 << (8 * r)) - 1 for r in range(9)], dtype=np.uint64)


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r = np.uint64(r)
    return (x << r) | (x >> (np.uint64(64) - r))


def _rotl_into(x: np.ndarray, left: np.uint64, right: np.uint64, tmp: np.ndarray) -> None:
    """x = rotl64(x, left) in place (right = 64 - left), via scratch tmp."""
    np.right_shift(x, right, out=tmp)
    x <<= left
    x |= tmp


def _fmix64(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * _F1
    k = k ^ (k >> np.uint64(33))
    k = k * _F2
    k = k ^ (k >> np.uint64(33))
    return k


def _mmh3_ragged(flat: np.ndarray, offsets: np.ndarray, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """MurmurHash3_x64_128 of the N >= 1 rows ``flat[offsets[i]:offsets[i+1]]``
    with no padded matrix: scratch is O(span bytes), not O(N * max_len)."""
    n = len(offsets) - 1
    lo, hi = int(offsets[0]), int(offsets[-1])
    buf = np.zeros(hi - lo + 16, dtype=np.uint8)  # the span + 16 zero bytes
    buf[: hi - lo] = flat[lo:hi]
    # little-endian u64 at EVERY byte offset: one unaligned strided view
    words = np.ndarray((len(buf) - 7,), dtype="<u8", buffer=buf, strides=(1,))
    starts = offsets[:-1] - lo
    lengths = np.diff(offsets)
    nblocks = lengths // 16

    # Rows sorted by block count, longest first: the rows still hashing
    # at block j are the prefix [:active[j]].
    order = np.argsort(-nblocks, kind="stable")
    s_starts, s_nblocks = starts[order], nblocks[order]
    h1 = np.full(n, seed, dtype=np.uint64)
    h2 = np.full(n, seed, dtype=np.uint64)
    max_blocks = int(s_nblocks[0])
    if max_blocks:
        active = n - np.cumsum(np.bincount(s_nblocks, minlength=max_blocks)[:max_blocks])
        first = np.concatenate(([0], np.cumsum(active[:-1])))
        # byte offset of block j of each row in [:active[j]], block-major
        pos = np.arange(int(active.sum()), dtype=np.int64)
        pos -= np.repeat(first, active)
        pos = s_starts[pos]
        pos += np.repeat(np.arange(0, 16 * max_blocks, 16, dtype=np.int64), active)
        k1 = words[pos]
        pos += 8
        k2 = words[pos]
        del pos
        tmp = np.empty(len(k1), dtype=np.uint64)
        k1 *= _C1
        _rotl_into(k1, _R31, _R33, tmp)
        k1 *= _C2
        k2 *= _C2
        _rotl_into(k2, _R33, _R31, tmp)
        k2 *= _C1
        for f, c in zip(map(int, first), map(int, active)):
            a1, a2, t = h1[:c], h2[:c], tmp[:c]  # in-place on the prefix
            a1 ^= k1[f : f + c]
            _rotl_into(a1, _R27, _R37, t)
            a1 += a2
            a1 *= _M5
            a1 += _A1
            a2 ^= k2[f : f + c]
            _rotl_into(a2, _R31, _R33, t)
            a2 += a1
            a2 *= _M5
            a2 += _A2

    # Tail: the two words after the last full block, masked to the
    # 0..15 remaining bytes (bytes past a row's end belong to the next
    # row or the zero pad).  A zero k1/k2 makes its mix a no-op, like
    # `case 0` of the reference's switch.
    tail = s_starts + 16 * s_nblocks
    s_lengths = lengths[order]
    rem = s_lengths - 16 * s_nblocks
    k1 = words[tail] & _TAIL_MASK[np.minimum(rem, 8)]
    k2 = words[tail + 8] & _TAIL_MASK[np.maximum(rem - 8, 0)]
    k2 *= _C2
    k2 = _rotl64(k2, 33)
    k2 *= _C1
    h2 ^= k2
    k1 *= _C1
    k1 = _rotl64(k1, 31)
    k1 *= _C2
    h1 ^= k1

    ulen = s_lengths.astype(np.uint64)
    h1 ^= ulen
    h2 ^= ulen
    h1 += h2
    h2 += h1
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 += h2
    h2 += h1
    o1 = np.empty(n, dtype=np.uint64)
    o2 = np.empty(n, dtype=np.uint64)
    o1[order] = h1
    o2[order] = h2
    return o1, o2


def mmh3_x64_128(items: list[bytes], seed: int = 0) -> tuple[np.ndarray, np.ndarray]:
    """Hash a Python list (or object array) of byte strings: one
    ``join`` into a flat buffer plus offsets, then :func:`mmh3_offsets`."""
    lengths = np.fromiter(map(len, items), dtype=np.int64, count=len(items))
    offsets = np.zeros(len(items) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    return mmh3_offsets(np.frombuffer(b"".join(items), dtype=np.uint8), offsets, seed)


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
    sliced Arrow BinaryArray).  No Python bytes objects and no padded
    matrix: each chunk of ``_HASH_CHUNK`` rows copies its byte span once
    and gathers its 16-byte blocks straight from it
    (:func:`_mmh3_ragged`)."""
    offsets = np.asarray(offsets, dtype=np.int64)
    n = len(offsets) - 1
    if n <= 0:
        e = np.empty(0, dtype=np.uint64)
        return e, e
    h1 = np.empty(n, dtype=np.uint64)
    h2 = np.empty(n, dtype=np.uint64)
    for lo in range(0, n, _HASH_CHUNK):
        hi = min(lo + _HASH_CHUNK, n)
        h1[lo:hi], h2[lo:hi] = _mmh3_ragged(flat, offsets[lo : hi + 1], seed)
    return h1, h2
