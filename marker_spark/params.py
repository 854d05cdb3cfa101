"""Sketch parameter solvers.

Bloom sizing reproduces the reference's formulas verbatim — note
`ceil`, not `round` (/root/reference/markercache.cpp:22-33,48):

    m           = ceil(-(n * ln p) / ln^2 2)
    k           = ceil((m / n) * ln 2)
    num_filters = ceil(lifespan / duration) + 1
    filter_size = ceil(m / num_filters)
"""

from __future__ import annotations

import math
from dataclasses import dataclass


def bloom_bits(capacity: int, fp: float) -> int:
    """Total bits m for `capacity` elements at false-positive rate `fp`."""
    if not (0.0 < fp < 1.0):
        raise ValueError(f"fp must be in (0,1), got {fp}")
    if capacity <= 0:
        raise ValueError(f"capacity must be positive, got {capacity}")
    return math.ceil(-(capacity * math.log(fp)) / (math.log(2) ** 2))


def bloom_hashes(m: int, capacity: int) -> int:
    """Number of hash probes k for m bits / n elements."""
    return math.ceil((m / capacity) * math.log(2))


@dataclass(frozen=True)
class BloomParams:
    """Solved Bloom configuration for one filter."""

    m: int  # bits
    k: int  # hash probes

    @classmethod
    def solve(cls, capacity: int, fp: float) -> "BloomParams":
        m = bloom_bits(capacity, fp)
        return cls(m=m, k=bloom_hashes(m, capacity))

    @property
    def nblocks(self) -> int:
        return (self.m + 63) // 64


@dataclass(frozen=True)
class CacheParams:
    """Time-bucketed cache configuration, mirroring the reference ctor
    (/root/reference/markercache.cpp:22-33,48).

    duration/lifespan in seconds; total_capacity across the whole
    lifespan; each bucket's filter sized m_total / num_filters.
    """

    duration: int
    lifespan: int
    fp: float
    total_capacity: int

    def __post_init__(self):
        if self.duration < 1:
            raise ValueError(f"duration must be >= 1 second, got {self.duration}")
        if self.lifespan < 0:
            raise ValueError(f"lifespan must be >= 0 seconds, got {self.lifespan}")

    @property
    def num_filters(self) -> int:
        return math.ceil(self.lifespan / self.duration) + 1

    @property
    def m_total(self) -> int:
        return bloom_bits(self.total_capacity, self.fp)

    @property
    def filter_bits(self) -> int:
        return math.ceil(self.m_total / self.num_filters)

    @property
    def k(self) -> int:
        return bloom_hashes(self.m_total, self.total_capacity)

    def bloom_params(self) -> BloomParams:
        return BloomParams(m=self.filter_bits, k=self.k)
