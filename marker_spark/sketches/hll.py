"""HyperLogLog cardinality sketch (dense, 64-bit hash).

Flajolet–Fuchs–Gandouet–Meunier 2007 estimator with the small-range
linear-counting correction; 64-bit hashing makes the 32-bit large-range
correction unnecessary.  State: 2^p uint8 registers; update is
``reg[j] = max(reg[j], rho)`` via ``np.maximum.at``; merge is
elementwise max (exactly associative+commutative).

Published bound: std error = 1.04 / sqrt(2^p).

Generalizes the reference's membership question ("was this marker
inserted", /root/reference/markercache.cpp:161-195) to "how many
distinct markers were inserted" over the same MurmurHash3_x64_128 h1
stream, so Bloom and HLL builds share one hash pass.
"""

from __future__ import annotations

import struct

import numpy as np

from ..hashing import mmh3_fixed_width, mmh3_x64_128
from .base import KIND_HLL, pack_header, unpack_header_versioned

_PARAMS = struct.Struct("<BB")  # p, encoding (0 = dense registers, 1 = sparse pairs)
_SPARSE_N = struct.Struct("<I")
_LEGACY_P = struct.Struct("<B")  # version-1 payload: p byte, then dense registers
_VERSION = 2  # v1 = 1-byte p + dense registers; v2 adds the encoding byte + sparse


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Exact bit length of uint64 values (0 -> 0), vectorized.

    frexp on float64 is exact for <=32-bit magnitudes, so split into
    32-bit halves.
    """
    hi = (x >> np.uint64(32)).astype(np.uint32)
    lo = (x & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    _, e_hi = np.frexp(hi.astype(np.float64))
    _, e_lo = np.frexp(lo.astype(np.float64))
    return np.where(hi > 0, e_hi + 32, e_lo).astype(np.int64)


class HllSketch:
    __slots__ = ("p", "m", "registers")

    def __init__(self, p: int = 12, registers: np.ndarray | None = None):
        if not (4 <= p <= 18):
            raise ValueError(f"p must be in [4,18], got {p}")
        self.p = int(p)
        self.m = 1 << self.p
        if registers is not None and len(registers) != self.m:
            raise ValueError(
                f"HLL register array length {len(registers)} != 2^p = {self.m}"
            )
        self.registers = (
            np.zeros(self.m, dtype=np.uint8) if registers is None else registers
        )

    @property
    def std_error(self) -> float:
        return 1.04 / (self.m ** 0.5)

    # --- updates -------------------------------------------------------------
    def update_hashes(self, h1: np.ndarray) -> None:
        if len(h1) == 0:
            return
        p = np.uint64(self.p)
        j = (h1 >> (np.uint64(64) - p)).astype(np.int64)
        w = h1 << p
        # w != 0 -> rho = clz(w) + 1 = (64 - bitlen(w)) + 1
        rho = np.where(w == 0, 64 - self.p + 1, 65 - _bit_length_u64(w)).astype(np.uint8)
        np.maximum.at(self.registers, j, rho)

    def update(self, items: list[bytes]) -> None:
        h1, _ = mmh3_x64_128(items)
        self.update_hashes(h1)

    def update_fixed_width(self, matrix: np.ndarray) -> None:
        h1, _ = mmh3_fixed_width(matrix)
        self.update_hashes(h1)

    # --- estimate --------------------------------------------------------------
    def estimate(self) -> float:
        m = float(self.m)
        if self.m >= 128:
            alpha = 0.7213 / (1 + 1.079 / m)
        elif self.m == 64:
            alpha = 0.709
        elif self.m == 32:
            alpha = 0.697
        else:
            alpha = 0.673
        regs = self.registers.astype(np.float64)
        e = alpha * m * m / np.sum(np.exp2(-regs))
        if e <= 2.5 * m:
            zeros = int(np.count_nonzero(self.registers == 0))
            if zeros > 0:
                return m * np.log(m / zeros)
        return float(e)

    # --- merge / serde -----------------------------------------------------------
    def merge_in_place(self, other: "HllSketch") -> "HllSketch":
        if self.p != other.p:
            raise ValueError(f"HLL precision mismatch: {self.p} vs {other.p}")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def to_bytes(self) -> bytes:
        """Dense (2^p register bytes) or sparse ((idx u32, val u8) pairs)
        — whichever is smaller.  Low-cardinality groups (the common case
        for fine-grained (source, bucket) keys at scale) shrink from
        2^p bytes to ~5 bytes per distinct-ish item, which matters
        wherever states travel UNcompressed, such as UDF closures (the
        sketch-table sink already zlib-packs)."""
        nz = np.flatnonzero(self.registers)
        if len(nz) * 5 + _SPARSE_N.size < self.m:
            return (
                pack_header(KIND_HLL, _VERSION)
                + _PARAMS.pack(self.p, 1)
                + _SPARSE_N.pack(len(nz))
                + nz.astype("<u4").tobytes()
                + self.registers[nz].tobytes()
            )
        return (
            pack_header(KIND_HLL, _VERSION)
            + _PARAMS.pack(self.p, 0)
            + self.registers.tobytes()
        )

    @classmethod
    def from_bytes(cls, buf: bytes) -> "HllSketch":
        off, version = unpack_header_versioned(buf, KIND_HLL, _VERSION)
        if version == 1:
            # Two historical layouts carried a version-1 header:
            #  (a) the original 1-byte-p + dense registers
            #      (len == off + 1 + 2^p), and
            #  (b) an interim 2-byte (p, encoding) layout that forgot to
            #      bump the version.  Disambiguate by total length — the
            #      lengths can never coincide (off+1+2^p == off+2+2^p is
            #      false for dense, and the sparse length 12+5n == 7+2^p
            #      would need 2^p ≡ 0 mod 5, impossible).
            (p_legacy,) = _LEGACY_P.unpack_from(buf, off)
            if 4 <= p_legacy <= 18 and len(buf) == off + _LEGACY_P.size + (1 << p_legacy):
                regs = np.frombuffer(
                    buf, dtype=np.uint8, offset=off + _LEGACY_P.size, count=1 << p_legacy
                ).copy()
                return cls(p=p_legacy, registers=regs)
        p, enc = _PARAMS.unpack_from(buf, off)
        off += _PARAMS.size
        if enc == 0:
            # count= bounds the read so a truncated/over-long buffer raises
            # in frombuffer (or the __init__ length check) instead of
            # silently producing a malformed sketch.
            regs = np.frombuffer(buf, dtype=np.uint8, offset=off, count=1 << p).copy()
            return cls(p=p, registers=regs)
        if enc != 1:
            raise ValueError(f"unknown HLL encoding {enc}")
        (n,) = _SPARSE_N.unpack_from(buf, off)
        off += _SPARSE_N.size
        idx = np.frombuffer(buf, dtype="<u4", offset=off, count=n).astype(np.int64)
        off += 4 * n
        vals = np.frombuffer(buf, dtype=np.uint8, offset=off, count=n)
        if n and int(idx.max(initial=0)) >= (1 << p):
            raise ValueError("sparse HLL register index out of range")
        regs = np.zeros(1 << p, dtype=np.uint8)
        regs[idx] = vals
        return cls(p=p, registers=regs)
