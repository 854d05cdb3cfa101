"""Time-bucketed sketch cache — reference feature parity on Spark.

Reproduces /root/reference/markercache.cpp semantics as operations over
a bucketed sketch table:

 * bucket grid: contiguous [start, end] ranges of `duration` seconds,
   the open (current) bucket has end = +inf
   (markercache.cpp:100-102,133);
 * insert: batch-aggregate markers into their bucket's Bloom filter —
   unlike the reference, which always inserts into the *current* bucket
   regardless of event time (markercache.cpp:197-201 takes no
   timestamp), we bucket by event time; divergence documented here and
   in SURVEY.md §7;
 * lookup_from(start, end, probes): edge guards exactly as the
   reference — start > end -> false (markercache.cpp:164), end older
   than the oldest bucket -> false (:166); then OR of per-bucket
   membership over buckets whose timerange overlaps
   (markercache.cpp:181-192), with the same inclusive overlap predicate
   (markercache.cpp:271-274).  One kernel, ``_range_hits``, answers it
   on the driver and, for R ranges at once, inside
   ``lookup_multi_range_udf``; ``lookup_range_join`` answers a range
   per probe row;
 * age: seal the current bucket (end = max(now, start),
   markercache.cpp:211), evict buckets past the lifespan (:216-226),
   open the next bucket at prev_end + 1 (:229-232);
 * save: idempotent per-bucket checkpoint named by bucket start —
   write-if-absent exactly like the reference's archive
   (markercache.cpp:248-269, path layout :276-280) — plus a manifest
   with per-bucket lineage (row counts, build timings, source) per the
   north_rule;
 * resume: restore sealed buckets from checkpoint (newest-first,
   capped at num_filters - 1, markercache.cpp:77-93), delete expired
   files (:59-69), then REBUILD missing bucket ranges by re-aggregating
   the source table filtered to the gap — the real implementation of
   the reference's TODO stub (markercache.cpp:117-125,
   experimental/rebuildfilters.cpp:31-76).

At cluster scale the bucket table is tiny (num_filters rows of sketch
state); all heavy work is the per-bucket partial build
(``agg.collect_agg``): one map-only stage over defaultParallelism tasks
whose packed partials OR-fold on the driver — there is no merge
shuffle.  Partition pruning on the source's time column replaces the
reference's newest-first early-break scan.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ..agg import collect_agg
from ..hashing import _HASH_CHUNK, mmh3_offsets, mmh3_x64_128
from ..kernels import arrow_marker_bytes, bloom_binary_updater, bloom_ngram_updater
from ..params import CacheParams
from ..sketches.bloom import BloomSketch

OPEN_END = 2**62  # stand-in for time_t::max on the open bucket


def _bucket_hits(sketches: list[BloomSketch], h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """``bool[len(sketches), n]``: the membership of each hashed probe in
    each sketch.  The k probe positions are computed once per distinct
    (m, k) and resolved with one gather per sketch, in chunks of
    ``_HASH_CHUNK`` probes so scratch stays bounded."""
    out = np.empty((len(sketches), len(h1)), dtype=bool)
    shapes: dict[tuple[int, int], list[int]] = {}
    for b, sk in enumerate(sketches):
        shapes.setdefault((sk.m, sk.k), []).append(b)
    for lo in range(0, len(h1), _HASH_CHUNK):
        hi = lo + _HASH_CHUNK
        for idx in shapes.values():
            words, masks = sketches[idx[0]].probe_positions(h1[lo:hi], h2[lo:hi])
            for b in idx:
                out[b, lo:hi] = sketches[b].hits_at(words, masks)
    return out


def _range_hits(
    buckets: list[tuple[int, int, BloomSketch]],
    oldest: int | None,
    probes: list[bytes] | pa.Array,
    ranges: list[tuple[int, int]],
) -> np.ndarray:
    """``bool[len(probes), len(ranges)]``: column j is the membership of
    each probe in the buckets overlapping ``ranges[j]``, for a list of
    bytes (driver) or a marker ``pa.Array`` (UDF) of probes.

    ``buckets`` are newest-first ``(start, end, sketch)`` and ``oldest``
    the oldest bucket's start (``None`` for an empty cache).  A range
    with ``lo > hi`` (markercache.cpp:164) or ending before ``oldest``
    (:166) is all False.  Probes are hashed once, and only when some
    live range overlaps some bucket (:168-169); each bucket overlapping
    a live range (inclusive, :271-274) is probed once
    (:func:`_bucket_hits`) and ORed into the column of every range it
    overlaps."""
    out = np.zeros((len(probes), len(ranges)), dtype=bool)
    live = [
        (j, lo, hi) for j, (lo, hi) in enumerate(ranges)
        if oldest is not None and lo <= hi and hi >= oldest
    ]
    if not live or not len(probes):
        return out
    probed = []  # (sketch, columns of the live ranges it overlaps)
    for s, e, sk in buckets:
        cols = [j for j, lo, hi in live if s <= hi and lo <= e]
        if cols:
            probed.append((sk, cols))
    if not probed:
        return out
    h1, h2 = (mmh3_x64_128(probes) if isinstance(probes, list)
              else mmh3_offsets(*arrow_marker_bytes(probes)))
    member = _bucket_hits([sk for sk, _ in probed], h1, h2)
    for hits, (_, cols) in zip(member, probed):
        out[:, cols] |= hits[:, None]
    return out


@dataclass
class Bucket:
    start: int
    end: int  # inclusive; OPEN_END while open
    sketch: BloomSketch
    n_markers: int = 0  # inserted markers (n-grams), not input rows
    build_secs: float = 0.0
    source: str = ""
    max_slot: int = 0  # highest grid-slot start merged in (event-time)
    dirty: bool = False  # content changed since last checkpoint write

    def overlaps(self, lo: int, hi: int) -> bool:
        # inclusive interval overlap, markercache.cpp:271-274
        return self.start <= hi and lo <= self.end


class SketchCache:
    def __init__(self, params: CacheParams, ckpt_dir: str | None = None):
        self.params = params
        self.ckpt_dir = ckpt_dir
        self.buckets: list[Bucket] = []  # oldest first, like the deque

    # --- grid helpers ---------------------------------------------------------
    def _new_sketch(self) -> BloomSketch:
        bp = self.params.bloom_params()
        return BloomSketch(bp.m, bp.k)

    def bucket_start_for(self, ts: int) -> int:
        return (ts // self.params.duration) * self.params.duration

    def open_bucket(self, now: int) -> Bucket:
        """Open a fresh current bucket [start(now), +inf]."""
        if self.buckets and self.buckets[-1].end == OPEN_END:
            return self.buckets[-1]
        start = self.bucket_start_for(now)
        if self.buckets:
            start = max(start, self.buckets[-1].end + 1)  # markercache.cpp:229-231
        b = Bucket(start=start, end=OPEN_END, sketch=self._new_sketch())
        self.buckets.append(b)
        return b

    # --- insert ----------------------------------------------------------------
    def insert_batch(
        self,
        df: DataFrame,
        ts_col: str,
        marker_col: str | None = None,
        token_col: str | None = None,
        ngram: int = 3,
        source_label: str = "",
    ) -> None:
        """Aggregate a batch of rows into per-bucket Bloom filters.

        Exactly one of marker_col (binary/string markers, reference
        path) or token_col (token n-grams) must be given.  One Spark
        job with one stage: assign bucket -> partial sketches per
        bucket in each of defaultParallelism coalesced tasks -> OR-fold
        on the driver -> OR into held buckets.
        """
        t0 = time.monotonic()
        dur = self.params.duration
        with_bucket = df.withColumn(
            "__bucket",
            (F.floor(F.unix_timestamp(F.col(ts_col)) / dur) * dur).cast("long").cast("string"),
        # rows with a null/unparseable timestamp have no bucket: drop
        # them (the NULL_KEY sentinel group would crash int() below)
        ).where(F.col("__bucket").isNotNull())
        if marker_col is not None:
            update = bloom_binary_updater(marker_col)
        elif token_col is not None:
            update = bloom_ngram_updater(ngram, token_col)
        else:
            raise ValueError("need marker_col or token_col")
        bp = self.params.bloom_params()
        factory = lambda _key: BloomSketch(bp.m, bp.k)  # noqa: E731
        built = collect_agg(with_bucket, factory, update, BloomSketch, ["__bucket"])
        # one Spark job built every bucket; attribute its wall time
        # proportionally so lineage totals equal the real job time
        secs = (time.monotonic() - t0) / max(len(built), 1)
        for (bstart_s,), sk in built.items():
            bstart = int(bstart_s)
            self._merge_into_bucket(bstart, sk, secs, source_label)

    def _merge_into_bucket(self, bstart: int, sk: BloomSketch, secs: float, src: str) -> None:
        for b in self.buckets:
            if b.start <= bstart <= b.end:
                b.sketch.merge_in_place(sk)
                b.n_markers += sk.n_inserted
                b.build_secs += secs
                b.max_slot = max(b.max_slot, bstart)
                b.dirty = True
                return
        b = Bucket(
            start=bstart,
            end=bstart + self.params.duration - 1,
            sketch=sk,
            n_markers=sk.n_inserted,
            build_secs=secs,
            source=src,
            max_slot=bstart,
            dirty=True,
        )
        self.buckets.append(b)
        self.buckets.sort(key=lambda x: x.start)

    # --- lookup -----------------------------------------------------------------
    def lookup_from(self, start: int, end: int, probes: list[bytes]) -> np.ndarray:
        """Time-range membership with the reference's edge guards."""
        newest_first = [(b.start, b.end, b.sketch) for b in reversed(self.buckets)]
        oldest = self.buckets[0].start if self.buckets else None
        return _range_hits(newest_first, oldest, probes, [(start, end)])[:, 0]

    def _worker_buckets(self):
        """``(oldest, sketches)`` for a UDF closure: the buckets ship as
        newest-first ``(start, end, blob)`` triples and ``sketches()``
        deserializes them once per python worker."""
        blobs = [(b.start, b.end, b.sketch.to_bytes()) for b in reversed(self.buckets)]
        oldest = self.buckets[0].start if self.buckets else None
        state: dict[str, list] = {}

        def sketches() -> list:
            sks = state.get("sks")
            if sks is None:
                sks = state["sks"] = [
                    (s, e, BloomSketch.from_bytes(blob)) for s, e, blob in blobs
                ]
            return sks

        return oldest, sketches

    def lookup_range_udf(self):
        """Arrow UDF ``(marker, start, end) -> found`` with the bucket
        deque baked into the closure — the distributed form of
        :meth:`lookup_from`.

        The cache state is bounded (num_filters sketches, independent
        of corpus size), so it ships ONCE per executor inside the task
        binary and is deserialized lazily once per python worker; probe
        rows then stream through with ONE MurmurHash pass feeding every
        bucket (markercache.cpp:168-169), newest-first with found rows
        skipped (:181-192), and the reference's edge guards (start > end
        -> false, :164; end older than the oldest bucket -> false,
        :166; a NULL start or end -> false).  This is the 100 TB shape:
        a join against the bucket table would replicate each
        multi-hundred-KB sketch blob onto every probe-x-bucket pair row
        through the Arrow path, moving O(probes * m) bytes; the closure
        moves O(num_filters * m) per executor, full stop."""
        oldest, sketches = self._worker_buckets()

        @F.arrow_udf("boolean")
        def found_udf(marker: pa.Array, lo: pa.Array, hi: pa.Array) -> pa.Array:
            out = np.zeros(len(marker), dtype=bool)
            if oldest is None or len(marker) == 0:
                return pa.array(out)
            lo_np = lo.fill_null(0).to_numpy(zero_copy_only=False)
            hi_np = hi.fill_null(0).to_numpy(zero_copy_only=False)
            known = pc.and_(lo.is_valid(), hi.is_valid()).to_numpy(zero_copy_only=False)
            valid = known & (lo_np <= hi_np) & (hi_np >= oldest)
            if not valid.any():
                return pa.array(out)
            h1, h2 = mmh3_offsets(*arrow_marker_bytes(marker))  # hash once for all buckets
            for s, e, sk in sketches():
                idx = np.flatnonzero(valid & ~out & (s <= hi_np) & (lo_np <= e))
                if len(idx):
                    out[idx] = sk.contains_hashes(h1[idx], h2[idx])
            return pa.array(out)

        return found_udf

    def lookup_multi_range_udf(self, ranges: list[tuple[int, int]]):
        """Arrow UDF ``marker -> struct<f0..fR boolean>`` answering ALL
        the given (start, end) ranges in one pass with the kernel
        :meth:`lookup_from` runs on the driver: markers are hashed once
        per batch, each bucket's membership vector is computed at most
        once and ORed into every range it overlaps.  For R query-level
        ranges this scans the probe set once instead of R times — the
        fan-out-free form of repeating :meth:`lookup_range_join` per
        range.  The result is a STRUCT of boolean columns (one field
        ``f{j}`` per range), which stays columnar through Arrow."""
        oldest, sketches = self._worker_buckets()
        rng = [(int(lo), int(hi)) for lo, hi in ranges]
        names = [f"f{j}" for j in range(len(rng))]
        out_type = "struct<" + ", ".join(f"{f}: boolean" for f in names) + ">"

        @F.arrow_udf(out_type)
        def found_udf(marker: pa.Array) -> pa.Array:
            out = _range_hits(sketches(), oldest, marker, rng)
            return pa.StructArray.from_arrays([pa.array(c) for c in out.T], names=names)

        return found_udf

    def lookup_range_join(
        self, probe_df: DataFrame, marker_col: str, start_col: str, end_col: str
    ) -> DataFrame:
        """Per-probe time-range membership: adds a boolean ``found``
        column to probe_df, one row per input row.  Logically the
        broadcast join of probes x buckets on the inclusive overlap
        predicate (markercache.cpp:271-274) with a per-probe OR; executed
        via :meth:`lookup_range_udf` so the bounded bucket state rides
        the UDF closure instead of being replicated onto every joined
        row."""
        udf = self.lookup_range_udf()
        return probe_df.withColumn(
            "found",
            udf(F.col(marker_col), F.col(start_col).cast("long"), F.col(end_col).cast("long")),
        )

    # --- ageing ------------------------------------------------------------------
    def maybe_age(self, now: int, force: bool = False) -> bool:
        """Seal + rotate per markercache.cpp:203-242. Returns True if aged.

        Divergence from the reference's ``end = now`` seal (documented
        in SURVEY.md §7): because THIS cache buckets markers by EVENT
        time on a fixed grid (the reference always writes the current
        bucket), every bucket's [start, end] must be a union of whole
        grid slots — a seal cut mid-slot would strand the slot's
        still-arriving events in a bucket whose range excludes their
        timestamps, i.e. lookup false negatives.  Normal ageing seals
        the fully-elapsed slots (end = slot_start(now) - 1); a forced
        early age seals the whole current slot (late arrivals for it
        still merge into the sealed bucket, whose range covers them)."""
        if not self.buckets:
            self.open_bucket(now)
            return False
        cur = self.buckets[-1]
        if not force and not (cur.start + self.params.duration <= now):
            return False
        # the seal must also cover the highest slot the bucket ALREADY
        # received: the open bucket accumulates by event time, so markers
        # for a slot past `now`'s grid point may have merged in before the
        # seal — cutting below them would orphan them outside the sealed
        # range (lookup false negatives)
        cur.end = (
            max(
                self.bucket_start_for(now),
                cur.max_slot + self.params.duration,
                cur.start + self.params.duration,
            )
            - 1
        )
        while len(self.buckets) >= self.params.num_filters:  # evict oldest, :216-226
            evicted = self.buckets.pop(0)
            self._delete_ckpt(evicted.start)
        nxt = Bucket(start=cur.end + 1, end=OPEN_END, sketch=self._new_sketch())  # :229-232
        self.buckets.append(nxt)
        if self.ckpt_dir:
            self.save()  # :237-238
        return True

    # --- checkpoint -----------------------------------------------------------------
    def _bucket_path(self, start: int) -> str:
        # archive/<epoch>.filter analogue, markercache.cpp:276-280
        return os.path.join(self.ckpt_dir, f"{start}.sketch")

    def _manifest_path(self) -> str:
        return os.path.join(self.ckpt_dir, "manifest.json")

    def _delete_ckpt(self, start: int) -> None:
        if self.ckpt_dir:
            p = self._bucket_path(start)
            if os.path.exists(p):
                os.remove(p)

    def save(self) -> list[int]:
        """Idempotent: write sealed buckets whose content is not yet on
        disk (markercache.cpp:248-269); refresh the lineage manifest.
        Divergence from the reference's strict write-if-absent: event-
        time bucketing means a SEALED bucket can still receive late
        merges, so a bucket is rewritten when dirty — write-once would
        freeze the first seal-time snapshot and lose every later marker
        on restart (unchanged buckets are still skipped, keeping save
        idempotent)."""
        if not self.ckpt_dir:
            raise ValueError("no ckpt_dir configured")
        os.makedirs(self.ckpt_dir, exist_ok=True)
        written = []
        for b in self.buckets:
            if b.end == OPEN_END:
                continue  # only sealed buckets, :257
            p = self._bucket_path(b.start)
            if os.path.exists(p) and not b.dirty:
                continue  # unchanged since last write
            tmp = p + ".tmp"
            with open(tmp, "wb") as f:
                f.write(b.sketch.to_bytes())
            os.replace(tmp, p)
            b.dirty = False
            written.append(b.start)
        manifest = {
            "params": asdict(self.params),
            "buckets": [
                {
                    "start": b.start,
                    "end": b.end,
                    "n_markers": b.n_markers,
                    "source": b.source,
                    "sealed": b.end != OPEN_END,
                }
                for b in self.buckets
            ],
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, self._manifest_path())
        return written

    # --- restore / rebuild --------------------------------------------------------
    @classmethod
    def resume(
        cls,
        params: CacheParams,
        ckpt_dir: str,
        now: int,
        source_df: DataFrame | None = None,
        ts_col: str = "ts",
        marker_col: str | None = None,
        token_col: str | None = None,
        ngram: int = 3,
    ) -> "SketchCache":
        """Writer-ctor restore path (markercache.cpp:50-141).

        Load newest <= num_filters-1 sealed sketches from disk, delete
        expired files, rebuild gap buckets from source_df (the
        reference's TODO at :117-125, done for real), open the current
        bucket.
        """
        cache = cls(params, ckpt_dir)
        # The manifest records each sealed bucket's TRUE end (a
        # late-aged bucket spans several grid slots); fall back to one
        # slot for buckets missing from it.
        manifest_ends: dict[int, int] = {}
        mpath = os.path.join(ckpt_dir, "manifest.json")
        if os.path.exists(mpath):
            try:
                with open(mpath) as f:
                    manifest = json.load(f)
                manifest_ends = {
                    int(b["start"]): int(b["end"])
                    for b in manifest.get("buckets", [])
                    if b.get("sealed")
                }
            except (ValueError, KeyError):
                pass  # unreadable manifest: slot-sized ends still work
        files = []
        if os.path.isdir(ckpt_dir):
            for name in sorted(os.listdir(ckpt_dir)):
                if not name.endswith(".sketch"):
                    continue
                start = int(name[: -len(".sketch")])
                if start + params.duration * params.num_filters < now:  # expired, :59-69
                    os.remove(os.path.join(ckpt_dir, name))
                else:
                    files.append(start)
        files.sort(reverse=True)  # newest-first, :77-84
        for start in files[: params.num_filters - 1]:
            with open(os.path.join(ckpt_dir, f"{start}.sketch"), "rb") as f:
                sk = BloomSketch.from_bytes(f.read())
            end = manifest_ends.get(start, start + params.duration - 1)
            cache.buckets.append(
                Bucket(start=start, end=end, sketch=sk, n_markers=sk.n_inserted)
            )
        cache.buckets.sort(key=lambda b: b.start)

        # Rebuild missing bucket ranges, :103-130 — BOTH interior holes
        # (a deleted/corrupted checkpoint between restored buckets) and
        # the trailing gap up to now (the reference's loop runs `while
        # back.end <= now`, so the partially elapsed current slot is
        # included).
        if cache.buckets:
            gaps: list[tuple[int, int]] = []
            prev_end = None
            for b in cache.buckets:
                if prev_end is not None and b.start > prev_end + 1:
                    gaps.append((prev_end + 1, b.start - 1))
                prev_end = b.end
            expected = cache.buckets[-1].end + 1
            while expected <= now:
                gaps.append((expected, expected + params.duration - 1))
                expected += params.duration
            if gaps and source_df is not None:
                ts = F.unix_timestamp(F.col(ts_col))
                pred = None
                for lo, hi in gaps:
                    cond = (ts >= lo) & (ts <= min(hi, now))
                    pred = cond if pred is None else (pred | cond)
                cache.insert_batch(
                    source_df.filter(pred), ts_col, marker_col=marker_col,
                    token_col=token_col, ngram=ngram, source_label="rebuild",
                )
            elif gaps:
                # no source: backdated empty filters, :135-140
                for lo, hi in gaps[-(params.num_filters - 1):]:
                    cache.buckets.append(Bucket(start=lo, end=hi, sketch=cache._new_sketch()))
                cache.buckets.sort(key=lambda b: b.start)
        # Mark the bucket containing `now` as the open/current one
        # (markercache.cpp:133); open a fresh one if it doesn't exist.
        if cache.buckets and cache.buckets[-1].start <= now <= cache.buckets[-1].end:
            cache.buckets[-1].end = OPEN_END
        else:
            cache.open_bucket(now)
        # cap ring size
        while len(cache.buckets) > params.num_filters:
            cache.buckets.pop(0)
        return cache

    # --- introspection ---------------------------------------------------------------
    def metrics(self) -> list[dict]:
        """Per-bucket lineage + metrics rows (north_rule JSONL payload)."""
        return [
            {
                "bucket_start": b.start,
                "bucket_end": b.end,
                "sealed": b.end != OPEN_END,
                "n_markers": b.n_markers,
                "build_secs": round(b.build_secs, 4),
                "fill_ratio": round(b.sketch.fill_ratio(), 6),
                "expected_fp": b.sketch.expected_fp(),
                "m": b.sketch.m,
                "k": b.sketch.k,
            }
            for b in self.buckets
        ]
