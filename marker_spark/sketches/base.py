"""MergeableSketch protocol: the contract every sketch implements.

A sketch is bytearray-serializable mergeable aggregation state.  Spark
integration (marker_spark.agg) builds per-partition partials by calling
``update_*`` inside Arrow-batched UDFs, serializes with ``to_bytes``
into BinaryType columns, shuffles only those small states, and combines
with the classmethod ``merge``.  Merge MUST be associative and
commutative (exactly for Bloom/HLL/CMS; within the published error
bound for KLL/t-digest) — that is what makes tree-merging across
arbitrary partition orderings sound.
"""

from __future__ import annotations

import struct
from typing import Protocol, TypeVar, runtime_checkable

S = TypeVar("S", bound="MergeableSketch")

MAGIC = b"MSK1"

# Registered kind ids (serialized in the common header).
KIND_BLOOM = 1
KIND_HLL = 2
KIND_CMS = 3
KIND_KLL = 4
KIND_TDIGEST = 5
KIND_MINHASH = 6
KIND_THETA = 7
KIND_MG = 8

_HEADER = struct.Struct("<4sBB")  # magic, kind, version
HEADER_BYTES = _HEADER.size


def pack_header(kind: int, version: int = 1) -> bytes:
    return _HEADER.pack(MAGIC, kind, version)


def unpack_header(buf: bytes | memoryview, expect_kind: int) -> int:
    """Validate the 6-byte common header; return offset of the payload."""
    off, version = unpack_header_versioned(buf, expect_kind, max_version=1)
    return off


def unpack_header_versioned(
    buf: bytes | memoryview, expect_kind: int, max_version: int
) -> tuple[int, int]:
    """Like :func:`unpack_header` but returns ``(payload_offset, version)``
    for sketches whose wire format has evolved — the version byte is the
    dispatch key for parsing legacy payload layouts (e.g. HLL v1 dense
    vs v2 dense/sparse), so persisted state (saved sketch tables)
    stays readable across upgrades."""
    magic, kind, version = _HEADER.unpack_from(buf, 0)
    if magic != MAGIC:
        raise ValueError(f"bad sketch magic {magic!r}")
    if kind != expect_kind:
        raise ValueError(f"sketch kind mismatch: got {kind}, want {expect_kind}")
    if not (1 <= version <= max_version):
        raise ValueError(f"unsupported sketch version {version}")
    return _HEADER.size, version


@runtime_checkable
class MergeableSketch(Protocol):
    """Duck-typed contract; concrete sketches are plain classes."""

    def to_bytes(self) -> bytes: ...

    @classmethod
    def from_bytes(cls: type[S], buf: bytes) -> S: ...

    def merge_in_place(self: S, other: S) -> S: ...
