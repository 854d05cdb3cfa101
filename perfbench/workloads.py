"""The benchmark's workloads.  Each is a closed loop with one client: the
next job or call is submitted only after the previous one returns.

Every workload drives the entry points users call (``jobs/*.py``
``main``, ``marker_spark.api``, ``SketchCache``) on inputs generated from
the seed, and checks the outputs after each iteration, outside the
timed calls.  ``traced()`` adds the per-layer measurements.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

from perfbench import inputs, kernels


class Ops:
    """Counts operations (public calls and output checks) and failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def call(self, name: str, fn, *args, **kw):
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception as exc:
            self.failed += 1
            self.failures.append(f"{name}: {traceback.format_exc(limit=3)}")
            exc.counted = True  # so the iteration loop does not count it again
            raise

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"check {name} failed: {detail}")
        return ok


def timed(fn, *args, **kw):
    t = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t


def dir_mb(path: str, suffix: str = "") -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if f.endswith(suffix) and not f.startswith(".")
        )
    return total / 1e6


def noop(df) -> None:
    """Materialize a DataFrame without a sink."""
    df.write.format("noop").mode("overwrite").save()


def median(xs):
    return statistics.median(xs) if xs else float("nan")


class Workload:
    name = ""
    warmup_iterations = 1

    def __init__(self, work: str, seed: int, smoke: bool, ops: Ops):
        self.spark = None  # set once the session is up; prepare() needs none
        self.work = work
        self.seed = seed
        self.smoke = smoke
        self.ops = ops
        self.tracer = None
        self.inp = os.path.join(work, "in")
        self.out = os.path.join(work, "out")
        os.makedirs(self.inp, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def call(self, name: str, fn, *args, **kw):
        with self.span(name):
            return self.ops.call(name, fn, *args, **kw)

    def prepare(self) -> None:
        raise NotImplementedError

    def iteration(self) -> dict:
        raise NotImplementedError

    def report(self, iters: list[dict]) -> dict:
        raise NotImplementedError

    def compose(self, tracer):
        """Repeat the jobs' steps as direct calls.  The traced run calls
        this between the untraced iterations and the traced one, so the
        job runs it is compared with bracket it."""
        return None

    def traced(self, tracer, composed, untraced: list[dict], traced_iter: dict) -> tuple[dict, dict]:
        """Per-layer metrics and derived stage times for the traced run."""
        raise NotImplementedError

    def kernel_inputs(self):
        """(token RecordBatch, markers) for the single-threaded kernel
        spans; workloads override with their own data where they have it."""
        tbl = inputs.gen_tokenized_sequences(200 if self.smoke else 2000, seed=self.seed)
        return tbl.combine_chunks().to_batches()[0], inputs.markers(2000 if self.smoke else 20000, self.seed, 99)


# --- build: sketch-table build, api aggregations, daily merge -------------------

BUILD_FP = 0.001


def _prefix_times(tracer, label: str, steps: list[tuple[str, object]], reps: int = 2) -> dict[str, float]:
    """Run every prefix from scratch, ``reps`` rounds in turn so that no
    prefix runs warmer than the others; a stage's self time is the
    difference between the median times of consecutive prefixes.  The
    last prefix runs last, so its outputs are what the caller sees."""
    times: dict[str, list[float]] = {stage: [] for stage, _ in steps}
    for _ in range(reps):
        for stage, run in steps:
            with tracer.span(f"{label}.prefix.{stage}") as sp:
                run()
            times[stage].append(sp.duration)
    out, prev = {}, 0.0
    for stage, _ in steps:
        out[stage] = median(times[stage]) - prev
        prev = median(times[stage])
    out["total"] = prev
    return out


class Build(Workload):
    """Phase of ``sketch``: ``build_sketches.main`` over a fresh day, the three ``api``
    aggregations per source over that day, then ``build_sketches.main
    --merge-into`` folding the next day into the table just built."""

    def prepare(self) -> None:
        n_hist, n_new = (1500, 500) if self.smoke else (8000, 2000)
        self.day_in = os.path.join(self.inp, "day.parquet")
        self.new_in = os.path.join(self.inp, "new.parquet")
        day = inputs.write_token_day(self.day_in, n_hist, self.seed)
        new = inputs.write_token_day(self.new_in, n_new, self.seed, start=n_hist)
        self.day_tokens = int(np.sum(day.column("n_tok").to_numpy()))
        self.new_tokens = int(np.sum(new.column("n_tok").to_numpy()))
        self.kernel_batch = day.slice(0, min(2000, n_hist)).combine_chunks().to_batches()[0]

        from marker_spark.hashing import mmh3_ngram_i32

        rng = np.random.default_rng([self.seed, 3])
        self.exact = {}  # source -> (distinct 3-grams, unigram counts, sorted n_tok)
        self.samples = {}  # table -> (source per n-gram, h1, h2)
        for label, tbl in (("day", day), ("new", new)):
            flat, offsets = inputs.flat_tokens(tbl)
            starts, per_doc, key = inputs.ngram_keys(flat, offsets)
            src = np.repeat(np.asarray(tbl.column("source").to_pylist(), dtype=object), per_doc)
            pick = rng.choice(len(starts), size=min(20000, len(starts)), replace=False)
            h1, h2 = mmh3_ngram_i32(flat, starts[pick], 3)
            self.samples[label] = (src[pick], h1, h2)
            if label == "day":
                n_tok = tbl.column("n_tok").to_numpy()
                doc_src = np.asarray(tbl.column("source").to_pylist(), dtype=object)
                tok_src = np.repeat(doc_src, np.diff(offsets))
                for s in np.unique(doc_src):
                    self.exact[s] = (
                        len(np.unique(key[src == s])),
                        np.bincount(flat[tok_src == s]),
                        np.sort(n_tok[doc_src == s]).astype(np.float64),
                    )
        oflat, ostarts = inputs.oov_ngrams(5000 if self.smoke else 100000, self.seed)
        self.oov = mmh3_ngram_i32(oflat, ostarts, 3)
        self.digests: dict[str, str] = {}

    # paths written by one iteration
    def _paths(self):
        o = self.out
        return {k: os.path.join(o, k) for k in ("day", "incr", "hll", "cms", "kll")}

    def iteration(self) -> dict:
        from jobs import build_sketches
        from marker_spark import api

        p = self._paths()
        t0 = time.perf_counter()
        _, day_s = timed(self.call, "build_sketches.main", build_sketches.main, [
            "--input", self.day_in, "--output", p["day"], "--fp", str(BUILD_FP)])
        df = self.spark.read.parquet(self.day_in)
        t_api = time.perf_counter()
        self.call("api.hll_agg", lambda: api.hll_agg(df, group_cols=["source"])
                  .write.mode("overwrite").parquet(p["hll"]))
        self.call("api.cms_agg", lambda: api.cms_agg(df, group_cols=["source"])
                  .write.mode("overwrite").parquet(p["cms"]))
        self.call("api.kll_agg", lambda: api.kll_agg(df, "n_tok", group_cols=["source"])
                  .write.mode("overwrite").parquet(p["kll"]))
        api_s = time.perf_counter() - t_api
        _, inc_s = timed(self.call, "build_sketches.main --merge-into", build_sketches.main, [
            "--input", self.new_in, "--output", p["incr"], "--merge-into", p["day"],
            "--fp", str(BUILD_FP)])
        iter_s = time.perf_counter() - t0
        with self.span("checks"):
            fp_ratio = self._check(p)
        return {
            "iter_s": iter_s, "day_s": day_s, "api_s": api_s, "inc_s": inc_s,
            "day_mb": dir_mb(p["day"], ".parquet"), "incr_mb": dir_mb(p["incr"], ".parquet"),
            "output_mb": sum(dir_mb(v, ".parquet") for v in p.values()),
            "fp_ratio": fp_ratio,
        }

    @staticmethod
    def _table(path: str, cls) -> dict:
        from marker_spark.agg import unpack_state

        t = pq.read_table(path, columns=["source", "sketch"])
        return {s: unpack_state(cls, b) for s, b in zip(t.column(0).to_pylist(), t.column(1).to_pylist())}

    def _digest(self, name: str, path: str) -> None:
        t = pq.read_table(path, columns=["source", "sketch"])
        rows = sorted(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
        h = hashlib.sha256()
        for s, b in rows:
            h.update(s.encode() + b"\0" + b)
        d = h.hexdigest()
        first = self.digests.setdefault(name, d)
        self.ops.check(f"{name} table digest stable", d == first, f"{d} != {first}")

    def _check(self, p: dict) -> float:
        from marker_spark.hashing import mmh3_fixed_width
        from marker_spark.sketches.bloom import BloomSketch
        from marker_spark.sketches.cms import CmsSketch
        from marker_spark.sketches.hll import HllSketch
        from marker_spark.sketches.kll import KllSketch

        ops = self.ops
        self._digest("day", p["day"])
        self._digest("incr", p["incr"])
        day = self._table(p["day"], BloomSketch)
        incr = self._table(p["incr"], BloomSketch)
        for tname, table, labels in (("day", day, ["day"]), ("incr", incr, ["day", "new"])):
            missing = 0
            for label in labels:
                src, h1, h2 = self.samples[label]
                for s in np.unique(src):
                    sel = src == s
                    missing += int((~table[s].contains_hashes(h1[sel], h2[sel])).sum())
            ops.check(f"{tname} bloom no false negatives", missing == 0, f"{missing} missing")
        oh1, oh2 = self.oov
        hits = sum(int(sk.contains_hashes(oh1, oh2).sum()) for sk in day.values())
        fp_ratio = hits / (len(oh1) * len(day)) / BUILD_FP
        ops.check("day bloom fp <= 1.3x configured", fp_ratio <= 1.3, f"ratio {fp_ratio:.3f}")

        hll = self._table(p["hll"], HllSketch)
        cms = self._table(p["cms"], CmsSketch)
        kll = self._table(p["kll"], KllSketch)
        bad_hll, bad_cms, bad_kll = [], [], []
        qs = np.linspace(0.1, 0.9, 9)
        for s, (distinct, counts, n_tok) in self.exact.items():
            est = hll[s].estimate()
            if abs(est - distinct) > 3 * hll[s].std_error * distinct:
                bad_hll.append((s, est, distinct))
            top = np.argsort(counts)[::-1][:20].astype("<i4")
            h1, h2 = mmh3_fixed_width(top.view(np.uint8).reshape(-1, 4))
            if (cms[s].query_hashes(h1, h2) < counts[top]).any():
                bad_cms.append(s)
            q_est = np.atleast_1d(kll[s].quantile(qs))
            lo = np.searchsorted(n_tok, q_est, "left") / len(n_tok)
            hi = np.searchsorted(n_tok, q_est, "right") / len(n_tok)
            err = np.maximum(np.maximum(lo - qs, qs - hi), 0).max()
            if err > kll[s].rank_error:
                bad_kll.append((s, float(err)))
        ops.check("hll within 3 sigma of exact distinct", not bad_hll, str(bad_hll))
        ops.check("cms never below exact for top tokens", not bad_cms, str(bad_cms))
        ops.check("kll rank error within bound", not bad_kll, str(bad_kll))
        return fp_ratio

    def report(self, iters: list[dict]) -> dict:
        m = lambda k: median([i[k] for i in iters])  # noqa: E731
        return {
            "build-table": {
                "build_tokens_per_s": (self.day_tokens / m("day_s"), "tokens/s"),
                "agg_tokens_per_s": (self.day_tokens / m("api_s"), "tokens/s"),
                "table_mb": (m("day_mb"), "MB"),
                "bloom_fp_ratio": (m("fp_ratio"), "ratio"),
            },
            "build-increment": {
                "build_tokens_per_s": (self.new_tokens / m("inc_s"), "tokens/s"),
                "table_mb": (m("incr_mb"), "MB"),
            },
        }

    # --- traced run ----------------------------------------------------------
    def _compose(self, tracer, label: str, input_path: str, output: str, merge_into: str | None):
        """The job's steps as direct calls: each prefix is materialized
        with a noop write, the last one writes the table like the job."""
        import json

        from pyspark.sql import functions as F

        from marker_spark.agg import (
            NULL_KEY, SKETCH_COL, build_partials_arrow, merge_partials,
            salted_repartition, unpack_state,
        )
        from marker_spark.hashing import mmh3_ngram_i32
        from marker_spark.kernels import arrow_str_codes, arrow_tokens_view, bloom_factory
        from marker_spark.ngrams import ngram_starts
        from marker_spark.sketches.bloom import BloomSketch

        spark, n, gcol, fp = self.spark, 3, "source", BUILD_FP
        plan = {}

        def _params_fn(batches):
            import pandas as pd

            for pdf in batches:
                recs = []
                for g, buf in zip(pdf[gcol], pdf[SKETCH_COL]):
                    sk = unpack_state(BloomSketch, bytes(buf))
                    recs.append((g, sk.m, sk.k))
                yield pd.DataFrame(recs, columns=[gcol, "m", "k"])

        def stats_pass():
            df = spark.read.parquet(input_path)
            with tracer.span("spark.stats"):
                stats = {
                    (NULL_KEY if r[gcol] is None else r[gcol]): int(r["ngrams"])
                    for r in df.groupBy(gcol)
                    .agg(F.sum(F.greatest(F.col("n_tok") - (n - 1), F.lit(0))).alias("ngrams"))
                    .collect()
                }
                prev_mk = {}
                if merge_into:
                    prev_mk = {
                        r[gcol]: (int(r["m"]), int(r["k"]))
                        for r in spark.read.parquet(merge_into).select(gcol, SKETCH_COL)
                        .mapInPandas(_params_fn, schema=f"`{gcol}` string, m long, k int")
                        .collect()
                    }
            total = max(sum(stats.values()), 1)

            def factory(key=None):
                g = key[0] if key else None
                if g in prev_mk:
                    return BloomSketch(*prev_mk[g])
                return bloom_factory(capacity=max(int(stats.get(g, total) * 1.2), 10_000), fp=fp)()

            def batch_update(states, batch):
                flat, offsets = arrow_tokens_view(batch)
                starts, per_doc = ngram_starts(offsets, n)
                h1, h2 = mmh3_ngram_i32(flat, starts, n)
                codes, uniques = arrow_str_codes(batch, gcol)
                ngram_codes = np.repeat(codes, per_doc)
                for gi, gname in enumerate(uniques):
                    key = (gname,)
                    sk = states.get(key)
                    if sk is None:
                        sk = states[key] = factory(key)
                    sel = ngram_codes == gi
                    sk.insert_hashes(h1[sel], h2[sel])

            shares = {g: c / total for g, c in stats.items()}
            with tracer.span("agg.salted_repartition"):
                salted = salted_repartition(df, gcol, shares, spark.sparkContext.defaultParallelism)
            with tracer.span("agg.build_partials_arrow"):
                partials = build_partials_arrow(salted, batch_update, [gcol])
            if merge_into:
                prev_df = spark.read.parquet(merge_into).select(gcol, SKETCH_COL)
                partials = partials.select(gcol, SKETCH_COL).unionByName(prev_df)
            with tracer.span("agg.merge_partials"):
                merged = merge_partials(partials, BloomSketch, [gcol])
            plan.update(df=df, salted=salted, partials=partials, merged=merged, stats=stats)

        def sink():
            stats_pass()
            plan["merged"].write.mode("overwrite").parquet(output)
            meta = spark.read.parquet(output).select(gcol, F.length(SKETCH_COL).alias("b")).collect()
            with open(os.path.join(output, "_metrics.jsonl"), "w") as f:
                for r in meta:
                    f.write(json.dumps({"group": r[gcol], "sketch_bytes": r["b"]}) + "\n")

        steps = [
            ("stats", stats_pass),
            ("scan", lambda: (stats_pass(), noop(plan["df"]))),
            ("repartition", lambda: (stats_pass(), noop(plan["salted"]))),
            ("build_partials", lambda: (stats_pass(), noop(plan["partials"]))),
            ("merge", lambda: (stats_pass(), noop(plan["merged"]))),
            ("sink", sink),
        ]
        times = _prefix_times(tracer, label, steps)
        parts = plan["partials"].select(gcol, SKETCH_COL).toArrow()
        return times, parts

    def compose(self, tracer):
        p = self._paths()
        return {
            label: self._compose(tracer, f"compose.{label}", inp,
                                 os.path.join(self.out, f"composed_{label}"), merge_into)
            for label, inp, merge_into in (("day", self.day_in, None), ("incr", self.new_in, p["day"]))
        }

    def traced(self, tracer, composed, untraced: list[dict], traced_iter: dict):
        from marker_spark.agg import pack_state, unpack_state
        from marker_spark.sketches.bloom import BloomSketch

        p = self._paths()
        layer, derived = {}, {}
        for label, job_key, pre in (("day", "day_s", ""), ("incr", "inc_s", "incr_")):
            out = os.path.join(self.out, f"composed_{label}")
            times, parts = composed[label]
            job = self._table(p[label], BloomSketch)
            mine = self._table(out, BloomSketch)
            same = job.keys() == mine.keys() and all(
                job[g].to_bytes() == mine[g].to_bytes() for g in job)
            self.ops.check(f"composed {label} table == job table", same)
            job_s = median([i[job_key] for i in untraced] + [traced_iter[job_key]])
            derived[f"{label}_composed_over_job"] = times["total"] / job_s
            derived[f"{label}_stages_s"] = times
            layer[f"spark.{pre}stats_s"] = times["stats"]
            layer[f"spark.{pre}scan_s"] = times["scan"]
            layer[f"agg.{pre}repartition_s"] = times["repartition"]
            layer[f"agg.{pre}build_partials_s"] = times["build_partials"]
            layer[f"agg.{pre}merge_s"] = times["merge"]
            layer[f"spark.{pre}sink_s"] = times["sink"]
            groups = parts.column(0).to_pylist()
            wire = parts.column(1).to_pylist()
            layer[f"agg.{pre}partial_states"] = len(wire)
            layer[f"agg.{pre}partial_mb"] = sum(map(len, wire)) / 1e6
            layer[f"agg.{pre}max_partials_per_group"] = max(groups.count(g) for g in set(groups))
            if label == "day":
                states = [unpack_state(BloomSketch, b) for b in wire]
                layer.update(kernels.pack_unpack(tracer, states, pack_state, unpack_state, BloomSketch))
        return layer, derived


# --- cache-ring: the reference lifecycle on SketchCache ------------------------

DURATION, LIFESPAN, CACHE_FP = 1800, 5400, 0.001  # reference test config
N_SLOTS, LIVE = 6, (3, 4, 5)  # slots 0-2 are evicted by the time lookups run


class CacheRing(Workload):
    """Phase of ``sketch``: six time-ordered buckets of reference markers through
    ``insert_batch`` + ``maybe_age`` (the ring evicts three), ``save`` and
    ``resume``, then 1,000-probe ``lookup_from`` calls over all-time,
    single-bucket, evicted and inverted ranges, and one
    ``lookup_multi_range_udf`` pass over every marker."""

    def prepare(self) -> None:
        from marker_spark.params import CacheParams

        per_bucket = 2000 if self.smoke else 10000
        self.n_calls = 100 if self.smoke else 1000
        self.t0 = 1_700_000_000 // DURATION * DURATION
        self.params = CacheParams(
            duration=DURATION, lifespan=LIFESPAN, fp=CACHE_FP,
            total_capacity=per_bucket * (LIFESPAN // DURATION + 1),
        )
        self.slots = [inputs.markers(per_bucket, self.seed, 100 + i) for i in range(N_SLOTS)]
        self.disjoint = inputs.markers(50000 if self.smoke else 100000, self.seed, 200)
        self.bucket_paths = []
        for i, data in enumerate(self.slots):
            path = os.path.join(self.inp, f"slot{i}.parquet")
            inputs.write_marker_bucket(path, data, self.slot_start(i), DURATION, self.seed)
            self.bucket_paths.append(path)
        self.live = [m for i in LIVE for m in self.slots[i]]
        self.evicted = [m for i in range(LIVE[0]) for m in self.slots[i]]
        import pyarrow as pa

        slot_col = [i for i, s in enumerate(self.slots) for _ in s] + [-1] * len(self.disjoint)
        self.probe_path = os.path.join(self.inp, "probe.parquet")
        pq.write_table(pa.table({
            "marker": pa.array([m for s in self.slots for m in s] + self.disjoint, type=pa.binary()),
            "slot": pa.array(slot_col, type=pa.int32()),
        }), self.probe_path)
        self.n_probe_rows = len(slot_col)
        self.calls = [self._call_spec(c) for c in range(self.n_calls)]
        self.expected = None  # answers of the pre-save cache, set by the first iteration
        self.digest = None

    def slot_start(self, i: int) -> int:
        return self.t0 + i * DURATION

    def ranges(self) -> dict[str, tuple[int, int]]:
        s = self.slot_start
        r = {"all": (s(0), s(N_SLOTS + 1))}
        r.update({f"slot{i}": (s(i), s(i + 1) - 1) for i in LIVE})
        r["evicted"] = (s(0), s(LIVE[0]) - 1)
        r["inverted"] = (s(5), s(4))
        return r

    def _call_spec(self, c: int):
        """(range name, n inserted-live probes, probe list) of lookup call c:
        60% all-time, 20% single-bucket, 10% evicted, 10% inverted."""
        k = c % 10
        half = 500
        d0 = (c * half) % (len(self.disjoint) - half)
        if k < 6 or k >= 8:
            live0 = (c * half) % (len(self.live) - half)
            probes = self.live[live0:live0 + half] + self.disjoint[d0:d0 + half]
            return ("all" if k < 6 else "inverted", half, probes)
        if k == 6:
            i = LIVE[c % len(LIVE)]
            j0 = (c * half) % (len(self.slots[i]) - half)
            return (f"slot{i}", half, self.slots[i][j0:j0 + half] + self.disjoint[d0:d0 + half])
        j = (c * 2 * half) % (len(self.evicted) - 2 * half)
        return ("evicted", 0, self.evicted[j:j + 2 * half])

    def iteration(self) -> dict:
        from marker_spark.cache.sketch_cache import SketchCache

        ckpt = os.path.join(self.out, "ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        spark, ops = self.spark, self.ops
        t_iter = time.perf_counter()
        cache = SketchCache(self.params, ckpt_dir=ckpt)
        insert_s = age_s = 0.0
        for i, path in enumerate(self.bucket_paths):
            df = spark.read.parquet(path)
            _, dt = timed(self.call, "cache.insert_batch", cache.insert_batch, df, "ts", marker_col="marker")
            insert_s += dt
            _, dt = timed(self.call, "cache.maybe_age", cache.maybe_age, self.slot_start(i + 1))
            age_s += dt
        _, save_s = timed(self.call, "cache.save", cache.save)
        now = self.slot_start(N_SLOTS) + 60
        t_resume = time.perf_counter()
        resumed = self.call("cache.resume", SketchCache.resume, self.params, ckpt, now)

        ranges = self.ranges()
        lat, answers = [], []
        for c, (rname, _, probes) in enumerate(self.calls):
            lo, hi = ranges[rname]
            t = time.perf_counter()
            ans = self.call("cache.lookup_from", resumed.lookup_from, lo, hi, probes)
            lat.append(time.perf_counter() - t)
            if c == 0:
                resume_s = time.perf_counter() - t_resume
            answers.append(ans)

        udf = resumed.lookup_multi_range_udf(list(ranges.values()))
        from pyspark.sql import functions as F

        probe = spark.read.parquet(self.probe_path)
        found = probe.select("slot", udf(F.col("marker")).alias("f")).select("slot", "f.*")
        names = list(ranges)
        live = F.col("slot").isin(*LIVE)
        aggs = [F.sum((F.col(f"f{j}") & live).cast("long")).alias(f"live_{n}") for j, n in enumerate(names)]
        aggs += [F.sum(F.col(f"f{j}").cast("long")).alias(f"all_{n}") for j, n in enumerate(names)]
        aggs += [F.sum((F.col(f"f{j}") & (F.col("slot") == i)).cast("long")).alias(f"own_{i}")
                 for j, n in enumerate(names) for i in LIVE if n == f"slot{i}"]
        t = time.perf_counter()
        udf_row = self.call("cache.lookup_multi_range_udf", lambda: found.agg(*aggs).collect()[0])
        udf_s = time.perf_counter() - t
        iter_s = time.perf_counter() - t_iter

        with self.span("checks"):
            fp = self._check(cache, resumed, answers, udf_row, names)
        return {
            "iter_s": iter_s, "insert_s": insert_s, "age_s": age_s, "save_s": save_s,
            "resume_s": resume_s, "lat": lat, "udf_s": udf_s,
            "output_mb": dir_mb(ckpt), "fp_ratio": fp,
            "buckets_probed": self._buckets_probed(resumed),
        }

    def _buckets_probed(self, cache) -> float:
        ranges = self.ranges()
        n = 0
        for rname, _, _ in self.calls:
            lo, hi = ranges[rname]
            if lo <= hi and hi >= cache.buckets[0].start:
                n += sum(b.overlaps(lo, hi) for b in cache.buckets)
        return n / len(self.calls)

    def _check(self, cache, resumed, answers, udf_row, names) -> float:
        ops = self.ops
        h = hashlib.sha256()
        for b in cache.buckets:
            h.update(f"{b.start}:{b.end}:".encode() + b.sketch.to_bytes())
        d = h.hexdigest()
        if self.digest is None:
            self.digest = d
            # answers of the cache as built, before it was saved
            ranges = self.ranges()
            self.expected = [cache.lookup_from(*ranges[r], p) for r, _, p in self.calls]
        ops.check("cache buckets identical across iterations", d == self.digest)
        ops.check("resumed cache answers every lookup as the pre-save cache",
                  all(np.array_equal(a, e) for a, e in zip(answers, self.expected)))
        fn = sum(int((~a[:n]).sum()) for (r, n, _), a in zip(self.calls, answers)
                 if r == "all" or r.startswith("slot"))
        ops.check("no false negatives on live buckets", fn == 0, f"{fn} missing")
        dead = sum(int(a.sum()) for (r, _, _), a in zip(self.calls, answers) if r in ("evicted", "inverted"))
        ops.check("no hits on evicted and inverted ranges", dead == 0, f"{dead} hits")
        # disjoint probes over the all-time range see the three sealed buckets
        fp_hits = fp_n = 0
        for (r, n, p), a in zip(self.calls, answers):
            if r == "all":
                fp_hits += int(a[n:].sum())
                fp_n += len(p) - n
        fp_ratio = fp_hits / max(fp_n, 1) / (len(LIVE) * CACHE_FP)
        ops.check("disjoint-set fp <= 1.3x configured", fp_ratio <= 1.3, f"ratio {fp_ratio:.3f}")
        n_live = len(self.live)
        ops.check("udf probe finds every live marker in the all-time range",
                  udf_row["live_all"] == n_live, f"{udf_row['live_all']} of {n_live}")
        ops.check("udf probe finds every marker in its own bucket",
                  all(udf_row[f"own_{i}"] == len(self.slots[i]) for i in LIVE))
        ops.check("udf probe has no hits on evicted and inverted ranges",
                  udf_row["all_evicted"] == 0 and udf_row["all_inverted"] == 0)
        return fp_ratio

    def report(self, iters: list[dict]) -> dict:
        m = lambda k: median([i[k] for i in iters])  # noqa: E731
        lat = np.array([x for i in iters for x in i["lat"]]) * 1e3
        n_ins = sum(map(len, self.slots))
        return {"cache-ring": {
            "insert_markers_per_s": (n_ins / m("insert_s"), "markers/s"),
            "lookup_p50_ms": (float(np.percentile(lat, 50)), "ms"),
            "lookup_p99_ms": (float(np.percentile(lat, 99)), "ms"),
            "lookup_calls": (len(lat), "count"),
            "probe_markers_per_s": (self.n_probe_rows / m("udf_s"), "markers/s"),
            "resume_s": (m("resume_s"), "s"),
            "bloom_fp_ratio": (m("fp_ratio"), "ratio"),
        }}

    def traced(self, tracer, composed, untraced: list[dict], traced_iter: dict):
        t = traced_iter
        layer = {
            "cache.insert_batch_s": t["insert_s"], "cache.age_s": t["age_s"],
            "cache.save_s": t["save_s"], "cache.checkpoint_mb": t["output_mb"],
            "cache.resume_s": t["resume_s"], "cache.lookup_from_ms": median(t["lat"]) * 1e3,
            "cache.udf_probe_s": t["udf_s"], "cache.buckets_probed": t["buckets_probed"],
        }
        return layer, {}


# --- dedup-pipeline --------------------------------------------------------------

class DedupPipeline(Workload):
    """``dedup_pipeline.main`` over seeded documents with injected exact
    and near-duplicate groups.  The default pairwise path: ``--keep-best``
    spends ~30 s per pass in label-propagation connected components even
    at 300 documents, more than the benchmark's time budget allows."""

    name = "dedup-pipeline"
    # its many small Spark jobs keep getting faster through the second
    # pass, and a pass costs a few seconds
    warmup_iterations = 2

    def prepare(self) -> None:
        n_docs, n_groups = (300, 20) if self.smoke else (2000, 100)
        self.ids, texts, self.groups = inputs.documents(n_docs, n_groups, self.seed)
        self.docs_in = os.path.join(self.inp, "docs.parquet")
        inputs.write_documents(self.docs_in, self.ids, texts)
        self.n_docs = n_docs
        in_group = {i for g in self.groups for i in g}
        self.singles = {int(i) for i in self.ids} - in_group

    def iteration(self) -> dict:
        from jobs import dedup_pipeline

        out = os.path.join(self.out, "clean")
        t = time.perf_counter()
        self.call("dedup_pipeline.main", dedup_pipeline.main,
                  ["--input", self.docs_in, "--output", out])
        iter_s = time.perf_counter() - t
        with self.span("checks"):
            recall = self._check(set(pq.read_table(out, columns=["doc_id"]).column(0).to_pylist()))
        return {"iter_s": iter_s, "output_mb": dir_mb(out, ".parquet"), "recall": recall}

    def _check(self, kept: set) -> float:
        per_group = [sum(i in kept for i in g) for g in self.groups]
        bad = [g for g, k in zip(self.groups, per_group) if k != 1]
        self.ops.check("each injected group keeps exactly one member", not bad, str(bad[:5]))
        lost = self.singles - kept
        self.ops.check("no doc outside an injected group is dropped", not lost, str(sorted(lost)[:5]))
        copies = sum(len(g) - 1 for g in self.groups)
        return sum(len(g) - k for g, k in zip(self.groups, per_group)) / copies

    def report(self, iters: list[dict]) -> dict:
        return {"dedup-pipeline": {
            "dedup_docs_per_s": (self.n_docs / median([i["iter_s"] for i in iters]), "docs/s"),
            "dedup_recall": (median([i["recall"] for i in iters]), "ratio"),
        }}

    def _compose(self, tracer):
        """The job's steps as direct calls; every prefix starts from
        nothing cached and ends in a noop write."""
        from pyspark.sql import functions as F

        from marker_spark.cacheutil import release_all
        from marker_spark.ops.dedup import (
            exact_dedup_scalable, lsh_candidate_pairs, minhash_signatures, ngram_jaccard_for_pairs,
        )
        from marker_spark.ops.text import with_text_stats

        spark, idc, txt = self.spark, "doc_id", "text"
        out = os.path.join(self.out, "composed")
        counts = {}

        def upto(stage: str):
            held = []
            try:
                docs = spark.read.parquet(self.docs_in)
                docs.count()
                if stage == "scan":
                    return
                scored = with_text_stats(docs, text_col=txt)
                kept = scored.where((F.col("quality_score") >= 0.3) & (F.col("n_words") >= 5)).drop(
                    "n_words", "avg_word_len", "punct_ratio", "stopword_ratio", "quality_score")
                kept.count()
                if stage == "quality":
                    return
                exact = exact_dedup_scalable(kept, text_col=txt, id_col=idc).persist()
                held.append(exact)
                exact.count()
                if stage == "exact":
                    return
                sigs = minhash_signatures(exact, text_col=txt, num_perm=128, shingle=3, id_col=idc)
                if stage == "minhash":
                    return noop(sigs)
                cands = lsh_candidate_pairs(sigs, id_col=idc, max_bucket=10_000)
                if stage == "lsh":
                    counts["candidate_pairs"] = cands.count()
                    return
                verified = ngram_jaccard_for_pairs(cands, exact, text_col=txt, id_col=idc, shingle=3) \
                    .where(F.col("jaccard") >= 0.8).persist()
                held.append(verified)
                if stage == "verify":
                    counts["verified_pairs"] = verified.count()
                    return
                drop = verified.select(F.col("id_b").alias(idc)).distinct()
                clean = exact.join(drop, idc, "left_anti").drop("dup_count")
                if stage == "select":
                    return noop(clean)
                clean.write.mode("overwrite").parquet(out)
                spark.read.parquet(out).count()
                verified.count()
            finally:
                for h in held:
                    h.unpersist()
                release_all()

        stages = ["scan", "quality", "exact", "minhash", "lsh", "verify", "select", "write"]
        times = _prefix_times(tracer, "compose.dedup", [(s, lambda s=s: upto(s)) for s in stages])
        return times, counts, out

    def compose(self, tracer):
        return self._compose(tracer)

    def traced(self, tracer, composed, untraced: list[dict], traced_iter: dict):
        times, counts, out = composed
        job = set(pq.read_table(os.path.join(self.out, "clean"), columns=["doc_id"]).column(0).to_pylist())
        mine = set(pq.read_table(out, columns=["doc_id"]).column(0).to_pylist())
        self.ops.check("composed pipeline keeps the job's doc ids", job == mine)
        layer = {f"dedup.{s}_s": times[s] for s in ("quality", "exact", "minhash", "lsh", "verify", "select")}
        layer["spark.scan_s"] = times["scan"]
        layer["spark.sink_s"] = times["write"]
        layer["dedup.candidate_pairs"] = counts["candidate_pairs"]
        layer["dedup.verified_share"] = counts["verified_pairs"] / max(counts["candidate_pairs"], 1)
        job_s = median([i["iter_s"] for i in untraced] + [traced_iter["iter_s"]])
        return layer, {"composed_over_job": times["total"] / job_s, "stages_s": times}


class Sketch(Workload):
    """The sketch family in one closed loop: the ``Build`` phase, then the
    ``CacheRing`` phase.  One session serves both, so the benchmark pays
    one Spark start-up and one warm-up for the two."""

    name = "sketch"

    def __init__(self, work: str, seed: int, smoke: bool, ops: Ops):
        super().__init__(work, seed, smoke, ops)
        self.phases = {
            "build": Build(os.path.join(work, "build"), seed, smoke, ops),
            "cache": CacheRing(os.path.join(work, "cache"), seed, smoke, ops),
        }

    def prepare(self) -> None:
        for phase in self.phases.values():
            phase.prepare()

    def iteration(self) -> dict:
        out = {}
        for name, phase in self.phases.items():
            phase.spark, phase.tracer = self.spark, self.tracer
            out[name] = phase.iteration()
        out["iter_s"] = sum(v["iter_s"] for v in out.values())
        out["output_mb"] = sum(out[k]["output_mb"] for k in self.phases)
        return out

    def report(self, iters: list[dict]) -> dict:
        out = {}
        for name, phase in self.phases.items():
            out.update(phase.report([i[name] for i in iters]))
        return out

    def kernel_inputs(self):
        return self.phases["build"].kernel_batch, self.phases["cache"].slots[LIVE[0]]

    def compose(self, tracer):
        return {name: phase.compose(tracer) for name, phase in self.phases.items()}

    def traced(self, tracer, composed, untraced: list[dict], traced_iter: dict):
        layer, derived = {}, {}
        for name, phase in self.phases.items():
            lay, der = phase.traced(tracer, composed[name], [i[name] for i in untraced], traced_iter[name])
            layer.update(lay)
            derived.update(der)
        return layer, derived


WORKLOADS = {w.name: w for w in (Sketch, DedupPipeline)}
