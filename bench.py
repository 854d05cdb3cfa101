"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32) and
prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "sf": ..., "tokens_per_sec": ..., "n_tokens": ...}

The primary BASELINE.json metric is tokens/sec sketch-build throughput
over the synthetic tokenized-sequence table (seed 42, deterministic,
cached under /tmp keyed by size); `value` is total wall seconds across
the headline queries.  Scaling runs (local[8] vs local[32]) for
BENCH/BASELINE.md: SPARK_GRAFT_CPUS=8 python bench.py, then =32.
"""

from __future__ import annotations

import json
import os
import sys
import time


def build_session(cpus: str):
    from pyspark.sql import SparkSession

    # glibc hands numpy's large temporaries straight to mmap/munmap
    # (default threshold 128KB); with many concurrent Python workers
    # the per-allocation syscalls serialize in the kernel (observed:
    # >70% system time at local[32]).  Raising the thresholds keeps
    # buffers on the free list.  Must be set before the JVM forks the
    # Python worker daemon.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("marker-spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus) * 2, 8)))
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _steal_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line, or
    None off-Linux.  Used to certify a timed trial ran in a clean
    window: round-3's recorded 8.8s build (vs a 5.6s clean-window
    floor, re-measured round 4) was a multi-minute hypervisor-steal
    episode swallowing all three best-of trials — wall time alone
    cannot distinguish that from a code regression."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _load1() -> float | None:
    """1-minute load average — recorded alongside steal because this VM
    exhibits DEGRADED states where idle loadavg sits at 5+ with zero
    user CPU and identical code runs 1.5x slower at <1% steal (observed
    round 4: same 1.6M-doc job 63s -> 100s trials as idle load rose).
    Steal alone does not certify a window."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def _steal_pct(before, after) -> float | None:
    """% of CPU time stolen between two _steal_ticks() snapshots."""
    if before is None or after is None:
        return None
    ds, dt = after[0] - before[0], after[1] - before[1]
    return 100.0 * ds / dt if dt > 0 else None


def timed_trials(
    fn,
    min_trials: int,
    max_trials: int,
    clean_pct: float = 1.0,
    steal_probe=None,
    until_flat: bool = False,
    flat_tol: float = 0.05,
):
    """Run fn() (returning elapsed seconds) until we hold a trial whose
    steal share was < clean_pct, bounded by max_trials.  Returns
    (best_secs, steal_pct_of_best, n_trials).  Keeps the overall best
    if no clean window appears in the budget — the bench must always
    report a number, but the steal annotation travels with it.

    ``until_flat=True`` additionally keeps trialing (within
    max_trials) while the latest trial IMPROVED the best by more than
    ``flat_tol`` — a monotonically-descending sequence at the stop
    point means the warm floor was not reached yet.  Round-8 evidence:
    the local[32] build leg warms 13.9 -> 7.0 -> 4.9 s (python-worker
    spawn + first-touch amortizing over trials), so a min-3 stop
    records a still-descending ~9.5 s in a probe-healthy window while
    the certified floor is 4.7-5.4 s.

    ``steal_probe`` (a zero-arg callable returning the per-trial steal
    percent, or None when unmeasurable) exists for deterministic tests;
    production uses the /proc/stat tick pair."""
    best, best_steal, trials = None, None, 0
    while trials < max_trials:
        best_before = best
        if steal_probe is None:
            s0 = _steal_ticks()
            secs = fn()
            st = _steal_pct(s0, _steal_ticks())
        else:
            secs = fn()
            st = steal_probe()
        trials += 1
        if best is None or secs < best:
            best, best_steal = secs, st
        clean = best_steal is None or best_steal < clean_pct
        descending = until_flat and (
            best_before is None or secs < best_before * (1.0 - flat_tol)
        )
        if trials >= min_trials and clean and not descending:
            break
    return best, best_steal, trials


def _probe_kernel(n: int) -> int:
    """Fixed integer/DRAM numpy kernel — deliberately independent of
    every marker_spark code path so its timing certifies the HOST, not
    the code (optimizing the engine must never shift the probe)."""
    import numpy as np

    x = np.arange(n, dtype=np.uint64)
    for _ in range(4):
        x = (x * np.uint64(0x9E3779B97F4A7C15)) ^ (x >> np.uint64(29))
    return int(x[-1])


def calibration_probe(workers: int = 8) -> dict:
    """Host-health probe for self-certifying bench artifacts: the same
    fixed kernel run single-process and `workers`-way multiprocess,
    with its own steal/load snapshot.  The degraded-VM state that
    polluted the round-5 driver sweep (uniform ~1.2x inflation on
    unchanged queries at <1% steal) is host memory-bandwidth
    contention, which inflates the PARALLEL leg disproportionately —
    so the pair (scalar_sec, parallel_sec) plus steal adjudicates a
    regressed query timing from the artifact alone.  Healthy values
    for this VM are recorded in BENCH/BASELINE.md §5."""
    import multiprocessing as mp

    # full-size warmup: the first full pass pays page faults +
    # allocator first-touch (measured 7s vs 1s warm) and a smaller
    # warmup doesn't pre-fault the arena the timed pass uses
    _probe_kernel(32 * 1024 * 1024)
    s0 = _steal_ticks()
    # each leg is MIN-OF-2 timed passes: inside a process with a live
    # Spark JVM, a single scalar pass intermittently stalls 2-4x
    # (fault/THP-compaction hiccups — measured r8: pass pairs like
    # 0.860/2.123 and 1.855/0.908 seconds apart, adjacent probes
    # clean) and would false-flag a healthy bracket.  Real host
    # degradation (memory-bandwidth contention, rounds 4-7) inflates
    # EVERY pass for minutes, so the min keeps full detection power.
    scalar = float("inf")
    for _ in range(2):
        t0 = time.monotonic()
        _probe_kernel(32 * 1024 * 1024)
        scalar = min(scalar, time.monotonic() - t0)
    with mp.get_context("fork").Pool(workers) as pool:
        # first map warms each worker's arena; the next two are timings
        pool.map(_probe_kernel, [8 * 1024 * 1024] * workers)
        par = float("inf")
        for _ in range(2):
            t0 = time.monotonic()
            pool.map(_probe_kernel, [8 * 1024 * 1024] * workers)
            par = min(par, time.monotonic() - t0)
    st = _steal_pct(s0, _steal_ticks())
    return {
        "scalar_sec": round(scalar, 3),
        "parallel8_sec": round(par, 3),
        "steal_pct": None if st is None else round(st, 2),
        "load1": _load1(),
    }


def probe_is_healthy(
    p: dict | None,
    parallel_ceiling_s: float = 0.65,
    scalar_ceiling_s: float = 2.0,
    steal_ceiling_pct: float = 1.0,
    load_ceiling: float = 2.0,
) -> bool:
    """One predicate for every gate/bracket so the artifact's
    window_healthy verdict and the pre-run wait agree exactly.

    A missing/None probe TIMING is NOT healthy (a probe leg that failed
    to produce a number cannot certify a window — round-7 advice);
    steal/load stay None-tolerant because they are genuinely
    unmeasurable off-Linux, not a probe failure."""
    if p is None:
        return False
    par, sca = p.get("parallel8_sec"), p.get("scalar_sec")
    return (
        par is not None
        and par <= parallel_ceiling_s
        and sca is not None
        and sca <= scalar_ceiling_s
        and (p.get("steal_pct") is None or p["steal_pct"] <= steal_ceiling_pct)
        and (p.get("load1") is None or p["load1"] <= load_ceiling)
    )


def wait_for_healthy_window(
    max_wait_s: float = 600.0,
    parallel_ceiling_s: float = 0.65,
    scalar_ceiling_s: float = 2.0,
    steal_ceiling_pct: float = 1.0,
    load_ceiling: float = 2.0,
    interval_s: float = 60.0,
    probe=None,
    sleep=None,
    clock=None,
):
    """Bounded pre-sweep gate on the calibration probe.

    The per-trial steal retry inside ``timed_trials`` cannot see the
    degraded memory-bandwidth state (2026-08-17: five spaced sweep
    attempts all read clean steal and healthy SCALAR probes while the
    parallel probe leg sat at 0.6-2.2 s vs the 0.30-0.60 s healthy
    envelope, and every 8-core timing ran ~1.5x over its floor).  The
    probe flags that state before any timing is taken — so wait for it
    to clear, bounded, instead of recording a whole sweep the artifact
    itself would mark polluted.  The probe history is returned and
    recorded in the JSON line so a sweep that STARTED degraded (budget
    exhausted) is legible as such.

    ``probe``/``sleep``/``clock`` are injectable for deterministic
    tests; production uses calibration_probe/time.sleep/time.monotonic.
    """
    probe = probe or calibration_probe
    sleep = sleep or time.sleep
    clock = clock or time.monotonic
    deadline = clock() + max_wait_s
    history = []
    while True:
        p = probe()
        history.append(p)
        # scalar leg checked too: observed scalar 6.5s with a clean
        # parallel leg when another process co-ran during the probe
        healthy = probe_is_healthy(
            p,
            parallel_ceiling_s=parallel_ceiling_s,
            scalar_ceiling_s=scalar_ceiling_s,
            steal_ceiling_pct=steal_ceiling_pct,
            load_ceiling=load_ceiling,
        )
        if healthy or clock() >= deadline:
            return healthy, history
        sleep(min(interval_s, max(deadline - clock(), 0.0)))


def _mid_run_healthy(p: dict | None) -> bool:
    """Bracket-probe health for probes taken DURING a bench run: the
    load1 ceiling is dropped because the 1-minute average is dominated
    by our own just-finished full-load leg, not host state (the
    certified round-6 artifact's mid-bench probes read load1 7.0-9.7
    with perfectly healthy scalar 0.82 / parallel 0.27-0.28 timings —
    a load gate would have false-flagged a certified window).  Scalar,
    parallel, and steal remain the discriminating signals; the idle
    load check stays in the PRE-RUN gate where the box should be
    quiet."""
    return probe_is_healthy(p, load_ceiling=float("inf"))


def _mid_run_wait(max_wait_s: float = 300.0):
    """wait_for_healthy_window with the mid-run load exemption (see
    _mid_run_healthy) — used for the bounded retry wait after a
    polluted bracket, where 1-min load is still decaying from our own
    work."""
    return wait_for_healthy_window(
        max_wait_s=max_wait_s, load_ceiling=float("inf")
    )


def bracketed_leg(run, probe=None, wait=None, retry_wait_s: float = 300.0):
    """Probe-bracket one bench leg (the round-7 hole: the pre-run gate
    passed, then the host degraded DURING the run and the artifact's
    numbers were polluted with no self-declared verdict).  Runs
    ``run()`` between two probes; if either probe is out of envelope
    (by the mid-run predicate — load-exempt, see _mid_run_healthy),
    waits (bounded) for a healthy window and re-runs the leg ONCE.
    ``run`` must keep its own best-of state across invocations (the
    bench legs do).  Returns (probe_before, probe_after, healthy,
    retried)."""
    probe = probe or calibration_probe
    wait = wait or _mid_run_wait
    p0 = probe()
    run()
    p1 = probe()
    healthy = _mid_run_healthy(p0) and _mid_run_healthy(p1)
    retried = False
    if not healthy and retry_wait_s > 0:
        ok, _ = wait(max_wait_s=retry_wait_s)
        if ok:
            retried = True
            p0 = probe()
            run()
            p1 = probe()
            healthy = _mid_run_healthy(p0) and _mid_run_healthy(p1)
    return p0, p1, healthy, retried


def bracketed_sweep(
    names,
    run_query,
    probe=None,
    wait=None,
    chunk: int = 8,
    retry_wait_s: float = 300.0,
):
    """Query sweep with mid-run health brackets.  ``run_query(name)``
    returns (best_secs, steal_pct_or_None); a probe runs before the
    sweep and after every ``chunk`` queries, so each query sits in a
    (probe_before, probe_after) bracket.  Queries whose bracket is
    unhealthy are retried once after a bounded wait for a healthy
    window (keeping the MIN timing — pollution only inflates), and the
    retry pass is bracketed too.  Returns a dict with timings, steals,
    all probes, the retried names, and one ``healthy`` verdict.

    Certification semantics (r9 precision): ``healthy`` means every
    query RAN at least once inside a healthy bracket — the kept number
    is the min over all passes and may come from the earlier polluted
    bracket.  That min is still a sound floor estimate because host
    pollution on this VM only ever INFLATES timings (steal, bandwidth
    contention, THP stalls — see BENCH/BASELINE.md §5); a polluted
    pass that read FASTER than the healthy re-run is the healthy run
    sitting above the floor, not the polluted one lying below it."""
    probe = probe or calibration_probe
    wait = wait or _mid_run_wait
    names = list(names)
    timings: dict[str, float] = {}
    steals: dict[str, float | None] = {}
    probes = [probe()]
    certified: set[str] = set()
    for i in range(0, len(names), chunk):
        group = names[i : i + chunk]
        for name in group:
            timings[name], steals[name] = run_query(name)
        probes.append(probe())
        if _mid_run_healthy(probes[-2]) and _mid_run_healthy(probes[-1]):
            certified.update(group)
    polluted = [n for n in names if n not in certified]
    retried: list[str] = []
    if polluted and retry_wait_s > 0:
        ok, _ = wait(max_wait_s=retry_wait_s)
        if ok:
            for i in range(0, len(polluted), chunk):
                group = polluted[i : i + chunk]
                p_open = probe()
                redo: dict[str, tuple[float, float | None]] = {}
                for name in group:
                    redo[name] = run_query(name)
                p_close = probe()
                retried.extend(group)
                bracket_ok = _mid_run_healthy(p_open) and _mid_run_healthy(p_close)
                probes.extend([p_open, p_close])
                for name, (secs, st) in redo.items():
                    if secs < timings[name]:
                        timings[name], steals[name] = secs, st
                    if bracket_ok:
                        certified.add(name)
    return {
        "timings": timings,
        "steals": steals,
        "probes": probes,
        "retried": retried,
        "healthy": all(n in certified for n in names),
    }


def _tokseq_parquet(n_docs: int, seed: int = 42) -> str:
    """Deterministic synthetic tokenized table, cached across runs so
    both scaling legs read identical input."""
    path = f"/tmp/marker_bench_tokseq_n{n_docs}_s{seed}.parquet"
    if not os.path.exists(path):
        from marker_spark.datagen import write_tokenized_sequences

        # tmp + atomic rename: a run killed mid-generation must not
        # leave a truncated parquet that every later run trusts
        tmp = f"{path}.tmp-{os.getpid()}"
        write_tokenized_sequences(tmp, n_docs=n_docs, seed=seed)
        os.replace(tmp, path)
    return path


def sketch_build_throughput(spark, n_docs: int) -> tuple[float, int, float]:
    """Headline: Bloom over 3-grams + HLL + CMS + KLL in ONE Arrow pass
    over the tokenized table (shared hash pass, four sketch states per
    group, proportional salting).  Returns (secs, total_tokens,
    tokens_per_sec)."""
    import numpy as np
    from pyspark.sql import functions as F

    from marker_spark.agg import (
        build_partials_arrow,
        merge_partials,
        salted_repartition,
    )
    from marker_spark.hashing import mmh3_ngram_i32
    from marker_spark.kernels import arrow_str_codes, arrow_tokens_view, bloom_factory
    from marker_spark.ngrams import ngram_starts
    from marker_spark.sketches.bloom import BloomSketch
    from marker_spark.sketches.cms import CmsSketch
    from marker_spark.sketches.hll import HllSketch
    from marker_spark.sketches.kll import KllSketch

    path = _tokseq_parquet(n_docs)
    df = spark.read.parquet(path)
    # Stats pass: per-group n-gram counts size each group's Bloom from
    # the reference's formulas (hot zipf source -> big m, tail -> small)
    # and drive proportional salting.
    from marker_spark.agg import NULL_KEY

    stats = {
        (NULL_KEY if r["source"] is None else r["source"]): int(r["ngrams"])
        for r in df.groupBy("source")
        .agg(F.sum(F.greatest(F.col("n_tok") - 2, F.lit(0))).alias("ngrams"))
        .collect()
    }
    total_ngrams = sum(stats.values())
    n_tokens = int(df.agg(F.sum("n_tok")).collect()[0][0])
    cpus = spark.sparkContext.defaultParallelism

    class Multi:
        """Composite state: one shared hash pass feeds all sketches."""

        def __init__(self, key=None):
            cap = max(int(stats.get(key[0] if key else None, n_tokens) * 1.2), 10_000)
            self.bloom = bloom_factory(capacity=cap, fp=0.001)()
            self.hll = HllSketch(p=14)
            self.cms = CmsSketch(d=5, w=1 << 16)
            self.kll = KllSketch(k=256)

        def update_hashes(self, h1, h2, n_tok_vals):
            self.bloom.insert_hashes(h1, h2)
            self.hll.update_hashes(h1)
            self.cms.update_hashes(h1, h2)
            self.kll.update(n_tok_vals)

        def to_bytes(self):
            import struct

            parts = [self.bloom.to_bytes(), self.hll.to_bytes(), self.cms.to_bytes(), self.kll.to_bytes()]
            return b"".join(struct.pack("<I", len(p)) + p for p in parts)

        @classmethod
        def from_bytes(cls, buf):
            import struct

            obj = cls.__new__(cls)
            off = 0
            parts = []
            while off < len(buf):
                (ln,) = struct.unpack_from("<I", buf, off)
                off += 4
                parts.append(buf[off : off + ln])
                off += ln
            obj.bloom = BloomSketch.from_bytes(parts[0])
            obj.hll = HllSketch.from_bytes(parts[1])
            obj.cms = CmsSketch.from_bytes(parts[2])
            obj.kll = KllSketch.from_bytes(parts[3])
            return obj

        def merge_in_place(self, other):
            self.bloom.merge_in_place(other.bloom)
            self.hll.merge_in_place(other.hll)
            self.cms.merge_in_place(other.cms)
            self.kll.merge_in_place(other.kll)
            return self

    def batch_update(states: dict, batch) -> None:
        flat, offsets = arrow_tokens_view(batch)
        starts, per_doc = ngram_starts(offsets, 3)
        h1, h2 = mmh3_ngram_i32(flat, starts, 3)  # hash ONCE per batch
        codes, uniques = arrow_str_codes(batch, "source")
        ngram_codes = np.repeat(codes, per_doc)
        n_tok = np.diff(offsets).astype(np.float64)
        for gi, gname in enumerate(uniques):
            sel = ngram_codes == gi
            key = (gname,)
            sk = states.get(key)
            if sk is None:
                sk = states[key] = Multi(key)
            sk.update_hashes(h1[sel], h2[sel], n_tok[codes == gi])

    t0 = time.monotonic()
    shares = {g: c / max(total_ngrams, 1) for g, c in stats.items()}
    salted = salted_repartition(df, "source", shares, parallelism=cpus)
    partials = build_partials_arrow(salted, batch_update, ["source"])
    result = merge_partials(partials, Multi, ["source"])
    # Production shape: the merged sketch table lands in a distributed
    # sink; only metadata crosses to the driver.
    sink = f"/tmp/marker_bench_sketches_{os.getpid()}.parquet"
    result.write.mode("overwrite").parquet(sink)
    meta = spark.read.parquet(sink).select("source", F.length("sketch").alias("sz")).collect()
    secs = time.monotonic() - t0
    assert len(meta) > 0, "no sketches built"
    return secs, n_tokens, n_tokens / secs


def sketch_build_bucketed_throughput(
    spark, n_docs: int, docs_per_bucket: int = 50_000
) -> tuple[float, int, float]:
    """Production-shape headline: per-(source, bucket) Bloom filters
    with BOUNDED per-bucket capacity — the reference's actual regime
    (a configured-capacity filter per time bucket,
    /root/reference/markercache.cpp:22-33).  State per group is
    constant, merge tasks are independent per bucket, so both build
    and merge parallelism grow with the corpus — the configuration the
    N->4N scaling criterion measures."""
    import numpy as np
    from pyspark.sql import functions as F

    from marker_spark.agg import build_partials_arrow, merge_partials
    from marker_spark.hashing import mmh3_ngram_i32
    from marker_spark.kernels import arrow_str_codes, arrow_tokens_view, bloom_factory
    from marker_spark.ngrams import ngram_starts
    from marker_spark.sketches.bloom import BloomSketch

    path = _tokseq_parquet(n_docs)
    df = spark.read.parquet(path)
    n_tokens = int(df.agg(F.sum("n_tok")).collect()[0][0])
    n_buckets = max(n_docs // docs_per_bucket, 1)
    # bounded capacity: hottest source ~45% of one bucket's n-grams
    cap = max(int(docs_per_bucket * (n_tokens / n_docs) * 0.45 * 1.3), 10_000)
    cpus = spark.sparkContext.defaultParallelism

    def factory(key=None):
        return bloom_factory(capacity=cap, fp=0.001)()

    def batch_update(states: dict, batch) -> None:
        flat, offsets = arrow_tokens_view(batch)
        starts, per_doc = ngram_starts(offsets, 3)
        h1, h2 = mmh3_ngram_i32(flat, starts, 3)
        codes, uniques = arrow_str_codes(batch, "source")
        # group columns reach the build as strings (Spark's cast(string))
        bkt = batch.column(batch.schema.get_field_index("bucket")).cast("int64").to_numpy()
        row_keys = codes * (n_buckets + 1) + bkt
        ngram_keys = np.repeat(row_keys, per_doc)
        for rk in np.unique(row_keys):
            gi, gb = divmod(int(rk), n_buckets + 1)
            key = (uniques[gi], str(gb))
            sel = ngram_keys == rk
            sk = states.get(key)
            if sk is None:
                sk = states[key] = factory(key)
            sk.insert_hashes(h1[sel], h2[sel])

    with_bucket = df.withColumn(
        "bucket", (F.substring("doc_id", 5, 12).cast("long") / docs_per_bucket).cast("int")
    )
    t0 = time.monotonic()
    nparts = max(cpus * 4, n_buckets)
    salted = with_bucket.repartition(nparts, "source", "bucket")
    partials = build_partials_arrow(salted, batch_update, ["source", "bucket"])
    result = merge_partials(partials, BloomSketch, ["source", "bucket"])
    sink = f"/tmp/marker_bench_bucketed_{os.getpid()}.parquet"
    result.write.mode("overwrite").parquet(sink)
    meta = spark.read.parquet(sink).count()
    secs = time.monotonic() - t0
    assert meta > 0
    return secs, n_tokens, n_tokens / secs


def _tokseq_partitioned(spark, n_docs: int, docs_per_bucket: int = 50_000) -> str:
    """The production layout per BASELINE.json:input_hint — the
    tokenized table stored partitioned by source (hive-style), bucket
    column precomputed.  Written once, cached across runs."""
    from pyspark.sql import functions as F

    # docs_per_bucket is part of the layout: reusing a cache built with
    # a different bucket size would silently decode wrong (source, bucket)
    # keys downstream
    path = f"/tmp/marker_bench_tokseq_part_n{n_docs}_b{docs_per_bucket}"
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        df = spark.read.parquet(_tokseq_parquet(n_docs)).withColumn(
            "bucket", (F.substring("doc_id", 5, 12).cast("long") / docs_per_bucket).cast("int")
        )
        df.write.partitionBy("source").mode("overwrite").parquet(tmp)
        os.replace(tmp, path)
    return path


def sketch_build_partitioned_throughput(
    spark, n_docs: int, docs_per_bucket: int = 50_000
) -> tuple[float, int, float]:
    """Zero-shuffle headline: the input is already partitioned by
    source (the Iceberg-style layout of input_hint), so partial build
    runs straight off the scan — no repartition, no raw-row shuffle;
    only the bounded per-(source,bucket) states move to the merge."""
    import numpy as np
    from pyspark.sql import functions as F

    from marker_spark.agg import build_partials_arrow, merge_partials
    from marker_spark.hashing import mmh3_ngram_i32
    from marker_spark.kernels import arrow_tokens_view, bloom_factory
    from marker_spark.ngrams import ngram_starts
    from marker_spark.sketches.bloom import BloomSketch

    path = _tokseq_partitioned(spark, n_docs, docs_per_bucket)
    df = spark.read.parquet(path)
    n_tokens = int(df.agg(F.sum("n_tok")).collect()[0][0])
    n_buckets = max(n_docs // docs_per_bucket, 1)
    cap = max(int(docs_per_bucket * (n_tokens / n_docs) * 0.45 * 1.3), 10_000)

    def factory(key=None):
        return bloom_factory(capacity=cap, fp=0.001)()

    def batch_update(states: dict, batch) -> None:
        flat, offsets = arrow_tokens_view(batch)
        starts, per_doc = ngram_starts(offsets, 3)
        h1, h2 = mmh3_ngram_i32(flat, starts, 3)
        from marker_spark.kernels import arrow_str_codes

        # partition layout makes source near-constant per batch, but an
        # Arrow batch may span a file boundary — group defensively.
        codes, uniques = arrow_str_codes(batch, "source")
        # group columns reach the build as strings (Spark's cast(string))
        bkt = batch.column(batch.schema.get_field_index("bucket")).cast("int64").to_numpy()
        row_keys = codes * (n_buckets + 1) + bkt
        ngram_keys = np.repeat(row_keys, per_doc)
        for rk in np.unique(row_keys):
            gi, gb = divmod(int(rk), n_buckets + 1)
            key = (uniques[gi], str(gb))
            sel = ngram_keys == rk
            sk = states.get(key)
            if sk is None:
                sk = states[key] = factory(key)
            sk.insert_hashes(h1[sel], h2[sel])

    t0 = time.monotonic()
    partials = build_partials_arrow(df, batch_update, ["source", "bucket"])
    result = merge_partials(partials, BloomSketch, ["source", "bucket"])
    sink = f"/tmp/marker_bench_part_sketches_{os.getpid()}.parquet"
    result.write.mode("overwrite").parquet(sink)
    meta = spark.read.parquet(sink).count()
    secs = time.monotonic() - t0
    assert meta > 0
    return secs, n_tokens, n_tokens / secs


def bloom_fp_check(spark, n_docs: int) -> dict:
    """BASELINE metric companion: observed Bloom FP vs configured bound
    on the built sketch table.  Rebuilds the hottest group's Bloom and
    probes it with n-grams from out-of-range token ids (guaranteed
    absent), reporting observed vs configured fp and zero-FN status."""
    import numpy as np
    from pyspark.sql import functions as F

    from marker_spark.agg import collect_sketches
    from marker_spark.api import bloom_agg
    from marker_spark.hashing import mmh3_fixed_width
    from marker_spark.sketches.bloom import BloomSketch

    path = _tokseq_parquet(n_docs)
    df = spark.read.parquet(path)
    hot = df.groupBy("source").count().orderBy(F.desc("count")).first()["source"]
    sub = df.where(F.col("source") == hot)
    n_ngrams = int(
        sub.agg(F.sum(F.greatest(F.col("n_tok") - 2, F.lit(0)))).collect()[0][0]
    )
    fp = 0.001
    sketches = collect_sketches(
        bloom_agg(sub, capacity=int(n_ngrams * 1.2), fp=fp, group_cols=["source"]),
        BloomSketch,
        ["source"],
    )
    sk = sketches[(hot,)]
    # probe with token ids far outside the generated vocab -> true negatives
    rng = np.random.default_rng(7)
    probes = rng.integers(10**7, 2**31 - 1, size=(200_000, 3), dtype=np.int32)
    mat = probes.astype("<i4").view(np.uint8).reshape(len(probes), 12)
    observed = float(sk.contains_fixed_width(mat).mean())
    return {
        "group": hot,
        "configured_fp": fp,
        "observed_fp": round(observed, 6),
        "within_bound": observed <= fp * 1.3,
        "n_inserted": sk.n_inserted,
        "m": sk.m,
        "k": sk.k,
    }


def lookup_100k_probes() -> dict:
    """Mirror of the reference's SD lookup benchmark: 100k probes of
    avg-150-byte markers against one filter, then OR over 4 filters
    (pure kernel timing — the reference's loop is also in-process)."""
    from marker_spark.datagen import gen_markers
    from marker_spark.params import CacheParams
    from marker_spark.sketches.bloom import BloomSketch

    params = CacheParams(duration=1800, lifespan=5400, fp=0.001, total_capacity=400_000)
    bp = params.bloom_params()
    filters = []
    for i in range(params.num_filters):
        bf = BloomSketch(bp.m, bp.k)
        markers, _ = gen_markers(100_000, seed=42 + i)
        bf.insert_fixed_width(markers)
        filters.append(bf)
    probes, _ = gen_markers(100_000, seed=999)

    from marker_spark.hashing import mmh3_fixed_width

    t0 = time.monotonic()
    h1, h2 = mmh3_fixed_width(probes)
    filters[-1].contains_hashes(h1, h2)
    cur = time.monotonic() - t0

    t0 = time.monotonic()
    h1, h2 = mmh3_fixed_width(probes)  # hash once for all filters
    found = None
    for bf in filters:
        r = bf.contains_hashes(h1, h2)
        found = r if found is None else (found | r)
    allf = time.monotonic() - t0
    return {"current_filter_sec": round(cur, 3), "all_filters_sec": round(allf, 3)}


def compact_summary_line(
    timings: dict,
    total: float,
    tps: float,
    window_healthy,
    sf,
    budget: int = 1800,
) -> str:
    """The FINAL stdout line: a self-contained summary guaranteed to
    fit inside a ~2,000-char tail capture AND parse as JSON on its own.
    The r8/r9 artifacts proved the full diagnostic line outgrows the
    harvester's capture window (r8 lost every timing; r9 kept them but
    still came back parsed:null because the line as a whole never fit)
    — so the diagnostics line stays first, and this second compact line
    is what a tail-truncating harvester actually parses.  If the
    per-query dict itself outgrows ``budget``, the SLOWEST queries are
    kept (they carry the information) and ``queries_truncated`` says
    how many were dropped; ``value`` stays last."""
    compact = {
        "metric": "headline_queries_total_sec",
        "unit": "sec",
        "sf": sf,
        "window_healthy": window_healthy,
        "tokens_per_sec": round(tps, 1),
        "queries": dict(timings),
        "value": total,
    }
    line = json.dumps(compact)
    if len(line) <= budget:
        return line
    items = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    kept: dict = {}
    compact["queries_truncated"] = len(items)
    for k, v in items:
        trial = dict(compact)
        trial["queries"] = {**kept, k: v}
        trial["queries_truncated"] = len(items) - len(kept) - 1
        # re-order so value is last even after the key update
        trial["value"] = trial.pop("value")
        if len(json.dumps(trial)) > budget:
            break
        kept[k] = v
    compact["queries"] = kept
    compact["queries_truncated"] = len(items) - len(kept)
    compact["value"] = compact.pop("value")
    return json.dumps(compact)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", str(max(int(1_000_000 * sf), 2_000))))

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entrymod

    # sampled BEFORE any work: the degraded-host signature is high
    # idle load; after the sweep the average reflects our own run
    load1_at_start = _load1()
    # bounded gate on the probe: don't START a sweep in a window the
    # artifact itself would flag (MARKER_BENCH_NO_WAIT=1 disables)
    if os.environ.get("MARKER_BENCH_NO_WAIT"):
        # truly skip: no probe at all (a probe is ~10s cold — first-touch
        # warmup + fork pool — which is exactly what NO_WAIT opts out of)
        gate_healthy, window_probes = None, []
    else:
        gate_healthy, window_probes = wait_for_healthy_window(
            max_wait_s=float(os.environ.get("MARKER_BENCH_WINDOW_WAIT_S", "600"))
        )
    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}

    # Headline sketch-build throughput (the BASELINE.json metric).
    # Steal-aware best-of-N: this sandbox shows 15-25% hypervisor CPU
    # steal in MULTI-MINUTE episodes — long enough to swallow a whole
    # fixed best-of-3 (round 3 recorded 8.8s where the clean-window
    # floor is ~5.6s; root-caused round 4 with /proc/stat deltas, see
    # BENCH/BASELINE.md §5).  Each trial now certifies its own window:
    # keep trying (bounded) until the best trial ran with <1% steal,
    # and report the steal share of the kept trial either way.  The
    # first run also pays Python-worker spawn + first-touch, which is
    # session setup, not build throughput — hence min 3 trials.
    build_state: dict = {}
    no_wait = bool(os.environ.get("MARKER_BENCH_NO_WAIT"))
    # bracket-retry waits respect an explicit env budget: a driver that
    # sets MARKER_BENCH_WINDOW_WAIT_S=60 wants the WHOLE run bounded,
    # not a 60s gate followed by three 300s retry waits
    retry_wait_s = min(
        300.0, float(os.environ.get("MARKER_BENCH_WINDOW_WAIT_S", "600"))
    )

    def _one_build() -> float:
        secs_, n_tokens_, tps_ = sketch_build_throughput(spark, n_docs)
        if secs_ < build_state.get("secs", float("inf")):
            build_state.update(secs=secs_, n_tokens=n_tokens_, tps=tps_)
        return secs_

    def _build_leg() -> None:
        # until_flat: the local[32] warm-up descent outlasts 3 trials
        # (13.9 -> 7.0 -> 4.9 s measured r8) — stop only once the best
        # stops improving, bounded at 6
        _, st, tr = timed_trials(
            _one_build, min_trials=3, max_trials=6, until_flat=True
        )
        # keep the steal/trial count of the pass that produced the best
        if build_state.get("secs") != build_state.get("_reported_secs"):
            build_state.update(_reported_secs=build_state["secs"], steal=st)
        build_state["trials"] = build_state.get("trials", 0) + tr

    # round-7 hole closed: the pre-run gate passed, then the host
    # degraded DURING the run — every leg is now probe-BRACKETED and
    # the artifact carries one window_healthy verdict (verdict r7 §2)
    if no_wait:
        _build_leg()
        build_bracket = {"healthy": None, "retried": False}
    else:
        b0, b1, bh, br = bracketed_leg(_build_leg, retry_wait_s=retry_wait_s)
        build_bracket = {
            "probe_before": b0, "probe_after": b1, "healthy": bh, "retried": br,
        }
    build_steal, build_trials = build_state.get("steal"), build_state.get("trials")
    secs, n_tokens, tps = build_state["secs"], build_state["n_tokens"], build_state["tps"]
    timings["sketch_build_multi"] = round(secs, 3)

    # Reference-parity lookup timing: the reference's only perf artifact
    # is a clock()ed loop of 100k probes of ~150-byte markers
    # (/root/reference/SDUnitTests.cpp:91-99,115-123).  Same shape here,
    # single filter then 4 filters.
    lk = lookup_100k_probes()
    timings["lookup_100k_current_filter"] = lk["current_filter_sec"]
    timings["lookup_100k_all_4_filters"] = lk["all_filters_sec"]

    bench_queries = [
        "flagship_bloom_by_source",
        "pricing_summary",
        "top_customers",
        "bucket_counts",
        "token_counts",
        "exact_dedup",
        "top_words",
        "bpe_token_counts",
        "knn_bruteforce",
        "embedding_near_dup_lsh",
        "ivf_topk",
        "minhash_lsh_pairs",
        "simhash_near_dup",
        "winnowing_dups",
        "duplicated_spans",
        "corpus_prep_spans",
        "boilerplate_excision",
        "bpe_learned_tokens",
        "sample_uniform",
        "hll_distinct_ngrams",
        "cms_heavy_tokens",
        "kll_ntok_quantiles",
        "tdigest_value_quantiles",
        "cache_timerange_lookup",
        "table_profile",
        "dsir_selection",
        "incremental_dedup_fast",
    ]
    qmap = entrymod.queries()
    from marker_spark.cacheutil import release_all

    # self-certifying sweep (round-5 lesson: per-query min-of-2-3 spans
    # ~1 min while degradation episodes last hours — the numbers alone
    # cannot defend themselves): host probes bracket every 8-query
    # chunk, queries in a polluted bracket are retried once in a waited
    # healthy window, the whole sweep gets its own steal share, and
    # each query records the steal of its kept trial
    sweep_s0 = _steal_ticks()

    def _run_query(name: str) -> tuple[float, float | None]:
        # Steal-aware min-of-trials per query (min 2, max 3): steal
        # episodes last minutes and would otherwise be indistinguishable
        # from a regression in the single recorded number (documented in
        # BENCH/BASELINE.md §5).
        def _one_query() -> float:
            t0 = time.monotonic()
            df = qmap[name](spark, sf_dir)
            df.collect()
            dt = time.monotonic() - t0
            # long-lived-session discipline: drop the query's persisted
            # intermediates so storage memory doesn't accumulate across
            # the sweep; between-request bookkeeping, outside the timer
            release_all()
            return dt

        best, qsteal, _ = timed_trials(_one_query, min_trials=2, max_trials=3)
        return round(best, 3), None if qsteal is None else round(qsteal, 2)

    if no_wait:
        query_steal: dict[str, float | None] = {}
        for name in bench_queries:
            timings[name], query_steal[name] = _run_query(name)
        sweep = {"probes": [], "retried": [], "healthy": None}
        probe_before = probe_after = None
    else:
        sweep = bracketed_sweep(
            bench_queries, _run_query, retry_wait_s=retry_wait_s
        )
        timings.update(sweep["timings"])
        query_steal = sweep["steals"]
        probe_before, probe_after = sweep["probes"][0], sweep["probes"][-1]

    sweep_steal = _steal_pct(sweep_s0, _steal_ticks())

    fp_check = bloom_fp_check(spark, n_docs)

    # Production-shape throughput (bounded per-bucket capacity) —
    # reported alongside the corpus-sized headline; see BENCH/BASELINE.md §2.
    # Bucket size scales with input so small benches aren't dominated by
    # over-allocated single-bucket states.
    dpb = min(50_000, max(n_docs // 8, 1_000))
    bucketed_state: dict = {}

    def _one_bucketed() -> float:
        bsecs_, _, btps_ = sketch_build_bucketed_throughput(spark, n_docs, docs_per_bucket=dpb)
        if bsecs_ < bucketed_state.get("secs", float("inf")):
            bucketed_state.update(secs=bsecs_, tps=btps_)
        return bsecs_

    # min 3 trials for the same reason as the headline build: this is
    # the north-rule production-shape number, it runs LAST in the sweep
    # (storage/worker state varies), and warm same-code trials at ~0%
    # steal span ~1.6x on this host (round-7 re-measure: 8.7-13.7 s at
    # 400k docs) — two trials are a coin flip between a good and a bad
    # window that steal certification cannot see.
    def _bucketed_leg() -> None:
        timed_trials(
            _one_bucketed, min_trials=3, max_trials=6, until_flat=True
        )

    if no_wait:
        _bucketed_leg()
        bucketed_bracket = {"healthy": None, "retried": False}
    else:
        c0, c1, ch, cr = bracketed_leg(_bucketed_leg, retry_wait_s=retry_wait_s)
        bucketed_bracket = {
            "probe_before": c0, "probe_after": c1, "healthy": ch, "retried": cr,
        }
    bsecs, btps = bucketed_state["secs"], bucketed_state["tps"]
    timings["sketch_build_bucketed"] = round(bsecs, 3)

    # ONE top-level verdict combining every bracket, so the driver
    # artifact adjudicates itself (None = NO_WAIT, nothing probed)
    window_healthy = None if no_wait else bool(
        build_bracket["healthy"] and sweep["healthy"] and bucketed_bracket["healthy"]
    )

    total = round(sum(timings.values()), 3)
    # KEY ORDER IS LOAD-BEARING: the driver's artifact keeps only the
    # TAIL of this line (BENCH_r08.json came back parsed:null with the
    # per-query timings cut off the front once the r8 bracket
    # diagnostics grew the line — round-8 verdict item 1).  Diagnostics
    # are emitted FIRST; the headline value and the `queries` dict go
    # LAST so a tail capture always retains them.
    print(
        json.dumps(
            {
                "build_steal_pct": None if build_steal is None else round(build_steal, 2),
                "build_trials": build_trials,
                "load1_at_start": load1_at_start,
                "window_wait_healthy": gate_healthy,
                "window_wait_probes": len(window_probes),
                "window_wait_first_probe": window_probes[0] if window_probes else None,
                "probe_before": probe_before,
                "probe_after": probe_after,
                "build_bracket": build_bracket,
                "bucketed_bracket": bucketed_bracket,
                "sweep_probes": len(sweep["probes"]),
                "sweep_retried": sweep["retried"],
                "sweep_bracket_healthy": sweep["healthy"],
                "sweep_steal_pct": None if sweep_steal is None else round(sweep_steal, 2),
                "query_steal_pct": query_steal,
                "bloom_fp_check": fp_check,
                "window_healthy": window_healthy,
                "metric": "headline_queries_total_sec",
                "unit": "sec",
                "sf": sf,
                "cpus": int(cpus),
                "n_tokens": n_tokens,
                "tokens_per_sec": round(tps, 1),
                "tokens_per_sec_bucketed": round(btps, 1),
                "bench_docs": n_docs,
                "queries": timings,
                "value": total,
            }
        )
    )
    # SECOND, compact line — the actual parse target for a harvester
    # that keeps only the tail of stdout (r9 verdict item 1: the full
    # diagnostic line above never fits the capture window whole)
    print(compact_summary_line(timings, total, tps, window_healthy, sf))
    spark.stop()


if __name__ == "__main__":
    main()
