"""Single-threaded kernel spans, run in the driver on a workload's own
Arrow batch, markers and sketch states."""

from __future__ import annotations

import statistics
import time

import numpy as np


def _per_unit(tracer, name: str, fn, units: float, budget: float = 0.2) -> float:
    """Median seconds of one ``fn()`` call divided by ``units``; one
    untimed warm call, then at least 3 timed calls within ``budget``."""
    fn()
    times: list[float] = []
    t_end = time.perf_counter() + budget
    while len(times) < 3 or (time.perf_counter() < t_end and len(times) < 50):
        with tracer.span(name) as sp:
            fn()
        times.append(sp.duration)
    return statistics.median(times) / units


def pack_unpack(tracer, states: list, pack_state, unpack_state, cls) -> dict:
    """Wire-format costs over ``states``: pack/unpack seconds per GB of
    raw state, raw bytes / wire bytes, and the share shipped raw."""
    from marker_spark.agg import _RMAGIC

    raw_gb = sum(len(s.to_bytes()) for s in states) / 1e9
    wire = [pack_state(s) for s in states]
    return {
        "agg.pack_s_per_gb": _per_unit(
            tracer, "kernel.agg.pack_state", lambda: [pack_state(s) for s in states], raw_gb),
        "agg.unpack_s_per_gb": _per_unit(
            tracer, "kernel.agg.unpack_state", lambda: [unpack_state(cls, b) for b in wire], raw_gb),
        "agg.pack_ratio": raw_gb * 1e9 / sum(map(len, wire)),
        "agg.raw_ship_share": sum(b[:4] == _RMAGIC for b in wire) / len(wire),
    }


def run(tracer, batch, markers: list[bytes], seed: int) -> dict:
    """Kernel metrics over one token RecordBatch and a marker list."""
    from marker_spark.hashing import mmh3_ngram_i32, mmh3_x64_128
    from marker_spark.kernels import arrow_tokens_view
    from marker_spark.ngrams import ngram_starts
    from marker_spark.params import BloomParams
    from marker_spark.sketches.bloom import BloomSketch
    from marker_spark.sketches.cms import CmsSketch
    from marker_spark.sketches.hll import HllSketch
    from marker_spark.sketches.kll import KllSketch

    out = {}

    def view():
        flat, offsets = arrow_tokens_view(batch)
        return flat, ngram_starts(offsets, 3)[0]

    flat, starts = view()
    n_tok, n_gram = len(flat), len(starts)
    out["kernels.tokens_view_ns"] = _per_unit(tracer, "kernel.kernels.tokens_view", view, n_tok) * 1e9
    out["hashing.ngram_ns"] = _per_unit(
        tracer, "kernel.hashing.mmh3_ngram_i32", lambda: mmh3_ngram_i32(flat, starts, 3), n_gram) * 1e9
    n_bytes = sum(map(len, markers))
    out["hashing.marker_ns_per_byte"] = _per_unit(
        tracer, "kernel.hashing.mmh3_x64_128", lambda: mmh3_x64_128(markers), n_bytes) * 1e9

    h1, h2 = mmh3_ngram_i32(flat, starts, 3)
    bp = BloomParams.solve(int(n_gram * 1.2), 0.001)
    bloom = BloomSketch(bp.m, bp.k)
    out["sketches.bloom_insert_ns"] = _per_unit(
        tracer, "kernel.sketches.bloom_insert", lambda: bloom.insert_hashes(h1, h2), n_gram) * 1e9
    rng = np.random.default_rng([seed, 5])
    o1 = rng.integers(0, 2**63, size=n_gram, dtype=np.uint64)
    o2 = rng.integers(0, 2**63, size=n_gram, dtype=np.uint64)
    p1, p2 = np.concatenate([h1, o1]), np.concatenate([h2, o2])  # half present, half absent
    out["sketches.bloom_contains_ns"] = _per_unit(
        tracer, "kernel.sketches.bloom_contains", lambda: bloom.contains_hashes(p1, p2), len(p1)) * 1e9
    big_m = 64 * 2**23  # two 64 MiB bitmaps: larger than any cache level
    a = BloomSketch(big_m, 7, blocks=rng.integers(0, 2**63, size=big_m // 64, dtype=np.uint64))
    b = BloomSketch(big_m, 7, blocks=rng.integers(0, 2**63, size=big_m // 64, dtype=np.uint64))
    out["sketches.bloom_or_gb_per_s"] = 1e-9 / _per_unit(
        tracer, "kernel.sketches.bloom_or", lambda: a.merge_in_place(b), big_m / 8)
    del a, b
    hll = HllSketch(p=14)
    out["sketches.hll_update_ns"] = _per_unit(
        tracer, "kernel.sketches.hll_update", lambda: hll.update_hashes(h1), n_gram) * 1e9
    cms = CmsSketch(d=5, w=1 << 16)
    out["sketches.cms_update_ns"] = _per_unit(
        tracer, "kernel.sketches.cms_update", lambda: cms.update_hashes(h1, h2), n_gram) * 1e9
    values = rng.lognormal(np.log(120), 0.6, size=n_gram)
    out["sketches.kll_update_ns"] = _per_unit(
        tracer, "kernel.sketches.kll_update", lambda: KllSketch(k=256).update(values), n_gram) * 1e9
    return out
