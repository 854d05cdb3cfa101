"""SketchCache semantics tests: ageing, timerange-lookup edge cases,
idempotent save, resume with gap rebuild — mirroring the reference's
Ageing / TimerangeLookups / restore-path tests
(/root/reference/DBAppUnitTests.cpp:127-174, markercache.cpp:50-141)
against the driver's sf0.001 events table.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from marker_spark.cache import CacheConfig  # noqa: F401  (alias check below)
from marker_spark.cache.sketch_cache import OPEN_END, SketchCache
from marker_spark.hashing import mmh3_x64_128
from marker_spark.params import CacheParams

SF_DIR = "/root/testdata/sf0.001"
DAY = 86_400
DUR = 10 * DAY
PARAMS = CacheParams(duration=DUR, lifespan=30 * DAY, fp=0.001, total_capacity=100_000)
T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC
NOW = T0 + 31 * DAY


@pytest.fixture(scope="module")
def events(spark):
    # props is low-cardinality ({"k": N}); markers must be unique per
    # event for disjointness assertions, so use event_id|props.
    return spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "marker", F.concat_ws("|", F.col("event_id"), F.col("props"))
    )


@pytest.fixture(scope="module")
def props(events):
    return [r["marker"].encode() for r in events.select("marker").collect()]


@pytest.fixture()
def cache(events):
    c = SketchCache(PARAMS)
    c.insert_batch(events, ts_col="ts", marker_col="marker")
    c.open_bucket(NOW)
    return c


def test_num_filters():
    assert PARAMS.num_filters == 4


def test_timerange_lookup(cache, props):
    # Found in [0, max] (DBAppUnitTests.cpp:160-167)
    found = cache.lookup_from(0, OPEN_END, props)
    assert found.all()
    # start > end -> all false (markercache.cpp:164)
    assert not cache.lookup_from(100, 50, props).any()
    # range entirely before history -> all false (markercache.cpp:166).
    # Buckets are epoch-grid-aligned, so "history" starts at the first
    # bucket's grid start, which can precede the first event's ts.
    assert not cache.lookup_from(0, cache.buckets[0].start - 1, props).any()


def test_timerange_partial_window(cache, events):
    # Probe only events from the first bucket; query restricted to the
    # last bucket's window must miss almost all (only Bloom FPs remain).
    first = [
        r["marker"].encode()
        for r in events.filter(F.unix_timestamp("ts") < T0 + DUR).select("marker").collect()
    ]
    last_window = cache.lookup_from(T0 + 2 * DUR, T0 + 3 * DUR - 1, first)
    assert last_window.mean() < 0.05
    first_window = cache.lookup_from(T0, T0 + DUR - 1, first)
    assert first_window.all()


def test_ageing(events, props):
    # Data survives num_filters-1 forced ageing cycles, gone after more
    # (DBAppUnitTests.cpp:127-158).
    c = SketchCache(PARAMS)
    c.insert_batch(events, ts_col="ts", marker_col="marker")
    c.open_bucket(NOW)
    n_data_buckets = sum(1 for b in c.buckets if b.n_markers > 0)
    now = NOW
    for _ in range(PARAMS.num_filters):
        now += DUR
        assert c.maybe_age(now, force=True)
    # All original data buckets evicted by now.
    assert all(b.n_markers == 0 for b in c.buckets)
    assert not c.lookup_from(0, OPEN_END, props[:100]).any()
    # Epoch-aligned grid: 30 days of events straddle 4 ten-day buckets.
    assert n_data_buckets == 4


def test_checkpoint_is_byte_stable(tmp_path, events):
    """Two caches built from the same inputs write byte-identical
    checkpoint directories: the manifest holds no wall time."""

    def checkpoint(name):
        ckpt = tmp_path / name
        c = SketchCache(PARAMS, ckpt_dir=str(ckpt))
        c.insert_batch(events, ts_col="ts", marker_col="marker")
        c.open_bucket(NOW)
        c.save()
        return {p.name: p.read_bytes() for p in sorted(ckpt.iterdir())}

    first, second = checkpoint("a"), checkpoint("b")
    assert "manifest.json" in first
    assert first == second


def test_save_idempotent_and_resume(tmp_path, events, props, spark):
    ckpt = str(tmp_path / "ckpt")
    c = SketchCache(PARAMS, ckpt_dir=ckpt)
    c.insert_batch(events, ts_col="ts", marker_col="marker")
    c.open_bucket(NOW)
    written1 = c.save()
    assert len(written1) == 4  # four sealed data buckets (grid-aligned)
    written2 = c.save()
    assert written2 == []  # idempotent, markercache.cpp:258
    assert os.path.exists(os.path.join(ckpt, "manifest.json"))

    # Resume from checkpoint: restored buckets answer lookups.
    r = SketchCache.resume(PARAMS, ckpt, now=NOW, source_df=events, ts_col="ts", marker_col="marker")
    assert len(r.buckets) <= PARAMS.num_filters
    found = r.lookup_from(0, OPEN_END, props)
    # newest num_filters-1 sealed buckets restored -> events in the
    # oldest (dropped) bucket may miss; events in restored buckets hit.
    # Epochs computed server-side (unix_timestamp) so the check cannot
    # shift with the host timezone.
    restored_lo = r.buckets[0].start
    found_by_marker = dict(zip(props, found))
    rows = events.select(
        F.unix_timestamp("ts").alias("epoch"), "marker"
    ).collect()
    checked = 0
    for row in rows:
        if row["epoch"] >= restored_lo:
            assert found_by_marker[row["marker"].encode()], (
                f"false negative for restored marker at ts={row['epoch']}"
            )
            checked += 1
    assert checked > 0, "no events fell in the restored window"


def test_resume_gap_rebuild(tmp_path, events, spark):
    """Kill/restart with missing buckets: gaps rebuilt from the source
    table (the reference's TODO at markercache.cpp:117-125)."""
    ckpt = str(tmp_path / "ckpt2")
    c = SketchCache(PARAMS, ckpt_dir=ckpt)
    # Only insert the FIRST bucket's data, seal + save it.
    first_df = events.filter(F.unix_timestamp("ts") < T0 + DUR)
    c.insert_batch(first_df, ts_col="ts", marker_col="marker")
    c.open_bucket(NOW)
    c.save()

    # Resume at NOW: every bucket after the newest restored one is a
    # gap -> rebuilt from events.  Probe only markers inside the
    # rebuilt range (markers falling in a restored-but-incomplete
    # bucket are the reference's blind spot too: it trusts restored
    # filters as-is, markercache.cpp:86-93).
    r = SketchCache.resume(PARAMS, ckpt, now=NOW, source_df=events, ts_col="ts", marker_col="marker")
    rebuilt_lo = max(b.start for b in r.buckets if b.source == "rebuild" or b.n_markers > 0)
    gap_lo = min(
        (b.start for b in r.buckets if b.source == "rebuild"), default=rebuilt_lo
    )
    later = [
        r2["marker"].encode()
        for r2 in events.filter(F.unix_timestamp("ts") >= gap_lo).select("marker").collect()
    ]
    assert later, "fixture should have events in the rebuilt range"
    assert r.lookup_from(gap_lo, OPEN_END, later).all(), "gap rebuild lost markers"


def test_metrics_lineage(cache):
    m = cache.metrics()
    assert len(m) == len(cache.buckets)
    data = [x for x in m if x["n_markers"] > 0]
    assert data and all(x["build_secs"] >= 0 for x in data)
    assert all(0 <= x["fill_ratio"] <= 1 for x in m)


def test_probe_during_age_consistency(spark):
    """Reader/writer interleave (the reference's sharable-vs-exclusive
    lock split, markercache.cpp:175-177,223-226, mapped to the
    share-nothing model): probing between ageing steps must keep the
    zero-FN invariant for every still-live bucket, and eviction must
    only ever remove the OLDEST bucket's answers."""
    import pandas as pd

    params = CacheParams(duration=100, lifespan=300, fp=0.001, total_capacity=10_000)
    c = SketchCache(params)

    def batch(tag, ts):
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime([ts] * 50, unit="s", utc=True).tz_localize(None),
             "marker": [f"{tag}-{i}" for i in range(50)]}
        )
        return spark.createDataFrame(pdf)

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    probes = {tag: [f"{tag}-{i}".encode() for i in range(50)] for tag in "abcd"}
    for i, tag in enumerate("abcd"):
        c.insert_batch(batch(tag, 1000 + i * 100), ts_col="ts", marker_col="marker")
        # reader probes between writer steps: everything inserted so far
        # must be found over all-time (zero FN survives interleaving)
        for seen in "abcd"[: i + 1]:
            assert c.lookup_from(0, OPEN_END, probes[seen]).all(), (tag, seen)
    # writer ages far past the last bucket: num_filters = lifespan/duration
    # + 1 = 4, so rotation evicts the oldest bucket(s)
    n_before = len(c.buckets)
    assert c.maybe_age(2000)
    # reader again: still-live buckets keep answering with zero FN
    live_lo = c.buckets[0].start
    for tag, base in zip("abcd", range(1000, 1400, 100)):
        want_live = base >= live_lo
        hits = c.lookup_from(0, OPEN_END, probes[tag])
        if want_live:
            assert hits.all(), tag
        else:
            # evicted bucket: only FPs remain (bounded well below all-hit)
            assert hits.mean() < 0.5, tag
    assert len(c.buckets) <= max(n_before, params.num_filters)


def _tiny_events(spark, rows):
    """rows: list of (epoch_secs, marker)."""
    df = spark.createDataFrame(rows, schema="secs long, marker string")
    return df.withColumn("ts", F.col("secs").cast("timestamp")).drop("secs")


def test_rotation_stays_on_grid_no_false_negatives(spark):
    """Seals must cut on grid-slot boundaries: events arriving for the
    new slot after a rotation must land in a bucket whose time range
    covers them (r3 review scenario: seal-at-now swallowed the next
    slot's start second and produced lookup false negatives)."""
    from marker_spark.params import CacheParams

    p = CacheParams(duration=100, lifespan=300, fp=0.001, total_capacity=10_000)
    c = SketchCache(p)
    c.open_bucket(0)
    assert c.maybe_age(100)  # rotate exactly when the first slot elapses
    assert c.buckets[-2].end == 99 and c.buckets[-1].start == 100
    c.insert_batch(_tiny_events(spark, [(150, "mk")]), ts_col="ts", marker_col="marker")
    assert c.lookup_from(150, 150, [b"mk"]).all(), "event after rotation lost"

    # late ageing seals ALL elapsed slots, still on the grid
    c2 = SketchCache(p)
    c2.open_bucket(0)
    assert c2.maybe_age(250)
    assert c2.buckets[-2].end == 199 and c2.buckets[-1].start == 200
    c2.insert_batch(_tiny_events(spark, [(150, "mk2")]), ts_col="ts", marker_col="marker")
    assert c2.lookup_from(150, 150, [b"mk2"]).all()

    # forced early ageing seals the whole current slot
    c3 = SketchCache(p)
    c3.open_bucket(0)
    assert c3.maybe_age(50, force=True)
    assert c3.buckets[-2].end == 99
    c3.insert_batch(_tiny_events(spark, [(70, "mk3")]), ts_col="ts", marker_col="marker")
    assert c3.lookup_from(70, 70, [b"mk3"]).all()


def test_resume_restores_true_bucket_ends(tmp_path, spark):
    """A late-aged bucket spans several slots; resume must restore its
    TRUE end from the manifest, not shrink it to one slot."""
    from marker_spark.params import CacheParams

    p = CacheParams(duration=100, lifespan=300, fp=0.001, total_capacity=10_000)
    c = SketchCache(p, ckpt_dir=str(tmp_path / "ck"))
    c.open_bucket(0)
    c.insert_batch(_tiny_events(spark, [(150, "late-slot")]), ts_col="ts", marker_col="marker")
    c.maybe_age(250)  # seals [0, 199]
    sealed_end = c.buckets[0].end
    assert sealed_end == 199
    c.save()
    r = SketchCache.resume(p, str(tmp_path / "ck"), now=260)
    restored = [b for b in r.buckets if b.start == 0]
    assert restored and restored[0].end == sealed_end
    assert r.lookup_from(150, 150, [b"late-slot"]).all()


def test_resume_rebuilds_interior_gap(tmp_path, spark):
    """A missing interior checkpoint file must be rebuilt from the
    source table, not silently left as a hole (r3 review scenario)."""
    import os as _os

    from marker_spark.params import CacheParams

    p = CacheParams(duration=100, lifespan=500, fp=0.001, total_capacity=10_000)
    src = _tiny_events(spark, [(50, "a"), (150, "b"), (250, "c")])
    c = SketchCache(p, ckpt_dir=str(tmp_path / "ck2"))
    c.insert_batch(src, ts_col="ts", marker_col="marker")
    for now in (100, 200, 300):
        c.maybe_age(now, force=True)
    c.save()
    _os.remove(str(tmp_path / "ck2" / "100.sketch"))  # middle bucket lost
    r = SketchCache.resume(p, str(tmp_path / "ck2"), now=310, source_df=src,
                           ts_col="ts", marker_col="marker")
    assert r.lookup_from(150, 150, [b"b"]).all(), "interior gap not rebuilt"
    assert r.lookup_from(50, 50, [b"a"]).all()
    assert r.lookup_from(250, 250, [b"c"]).all()


def _spread_events(spark, rows, n_parts):
    """rows: (epoch_secs, marker) spread over ``n_parts`` partitions
    with no shuffle in the plan."""
    rdd = spark.sparkContext.parallelize(rows, n_parts)
    df = spark.createDataFrame(rdd, schema="secs long, marker string")
    return df.withColumn("ts", F.col("secs").cast("timestamp")).drop("secs")


def test_insert_batch_matches_driver_insert_across_partitions(spark):
    """Input over 3 x defaultParallelism partitions and five buckets:
    the coalesced tasks each hold several buckets' partials, and the
    driver fold must give per-bucket bitmaps byte-identical to one
    driver-side insert of the same markers."""
    from marker_spark.sketches.bloom import BloomSketch

    p = CacheParams(duration=100, lifespan=300, fp=0.001, total_capacity=10_000)
    rows = [((i % 5) * 100 + i % 97, f"mk-{i}") for i in range(3_000)]
    n_parts = 3 * spark.sparkContext.defaultParallelism
    df = _spread_events(spark, rows, n_parts)
    assert df.rdd.getNumPartitions() == n_parts
    c = SketchCache(p)
    c.insert_batch(df, ts_col="ts", marker_col="marker")
    assert [b.start for b in c.buckets] == [0, 100, 200, 300, 400]
    bp = p.bloom_params()
    for b in c.buckets:
        want = BloomSketch(bp.m, bp.k)
        ms = [m.encode() for s, m in rows if s // 100 * 100 == b.start]
        want.insert_hashes(*mmh3_x64_128(ms))
        assert b.sketch.to_bytes() == want.to_bytes(), b.start
        assert b.n_markers == 600


def test_insert_batch_runs_one_job_with_one_stage(spark):
    """insert_batch folds its partials on the driver: one job, one
    stage — no merge shuffle — over defaultParallelism coalesced
    tasks, which bounds the partials per bucket reaching the driver."""
    p = CacheParams(duration=100, lifespan=300, fp=0.001, total_capacity=10_000)
    rows = [((i % 3) * 100, f"mk-{i}") for i in range(300)]
    df = _spread_events(spark, rows, 3 * spark.sparkContext.defaultParallelism)
    c = SketchCache(p)
    sc = spark.sparkContext
    group = "insert-batch-one-stage"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        c.insert_batch(df, ts_col="ts", marker_col="marker")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs
    (stage,) = tracker.getJobInfo(jobs[0]).stageIds
    assert tracker.getStageInfo(stage).numTasks == sc.defaultParallelism
    assert len(c.buckets) == 3


def test_cache_lookup_df(spark):
    """DataFrame lookup with literal bounds through the per-row range
    UDF: all-time finds every inserted marker, an inverted range none."""
    params = CacheParams(duration=10 * DAY, lifespan=30 * DAY, fp=0.001, total_capacity=100_000)
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").withColumn(
        "marker", F.concat_ws("|", F.col("event_id"), F.col("props"))
    )
    cache = SketchCache(params)
    cache.insert_batch(ev, ts_col="ts", marker_col="marker")
    probe = ev.select("marker").limit(200)

    def lookup(lo, hi):
        bounded = probe.withColumn("lo", F.lit(lo)).withColumn("hi", F.lit(hi))
        return cache.lookup_range_join(bounded, "marker", "lo", "hi")

    found = lookup(0, OPEN_END)
    assert found.where(F.col("found")).count() == 200
    none = lookup(100, 50)  # inverted range guard
    assert none.where(F.col("found")).count() == 0


def _four_bucket_cache():
    """Four closed buckets of 300 distinct markers each, built on the
    driver, plus the markers and 300 never-inserted ones."""
    cache = SketchCache(PARAMS)
    markers = []
    for i in range(4):
        ms = [f"b{i}-m{j}".encode() for j in range(300)]
        sk = cache._new_sketch()
        sk.insert_hashes(*mmh3_x64_128(ms))
        cache._merge_into_bucket(T0 + i * DUR, sk, 0.0, "test")
        markers += ms
    return cache, markers + [f"absent-{j}".encode() for j in range(300)]


def test_multi_range_udf_matches_lookup_from_per_range(spark):
    """Each field of the multi-range UDF equals lookup_from over the
    same range, row for row, across the reference's edge cases."""
    cache, markers = _four_bucket_cache()
    oldest, last_end = cache.buckets[0].start, cache.buckets[-1].end
    ranges = [
        (0, OPEN_END),                      # all time
        (T0 + DUR, T0 + 2 * DUR - 1),       # exactly one bucket
        (T0 + DUR + 5, T0 + 2 * DUR + 5),   # straddles two buckets
        (0, oldest - 1),                    # ends before the oldest bucket
        (100, 50),                          # inverted
        (last_end + 1, last_end + DUR),     # overlaps no bucket
    ]
    df = spark.createDataFrame([(i, m) for i, m in enumerate(markers)], "i long, marker binary")
    udf = cache.lookup_multi_range_udf(ranges)
    got = df.select("i", udf(F.col("marker")).alias("f")).orderBy("i").select("f.*").toPandas()
    assert list(got.columns) == [f"f{j}" for j in range(len(ranges))]
    for j, (lo, hi) in enumerate(ranges):
        want = cache.lookup_from(lo, hi, markers)
        assert np.array_equal(got[f"f{j}"].to_numpy(), want), (j, lo, hi)
    inserted = len(markers) - 300
    assert got["f0"][:inserted].all()  # no false negatives over all time
    assert got["f1"][300:600].all() and not got["f3"].any() and not got["f4"].any()


def _two_shape_ring(tmp_path):
    """A ring after a resume under other ``CacheParams``: three restored
    buckets keep the checkpoint's (m, k), the open bucket has the new
    one.  Returns the cache, per-bucket markers (slots 0-1 evicted,
    slot 5 in the open bucket) and never-inserted markers."""
    dur = 1000
    old = CacheParams(duration=dur, lifespan=3 * dur, fp=0.01, total_capacity=4_000)
    new = CacheParams(duration=dur, lifespan=3 * dur, fp=0.0001, total_capacity=9_000)
    t0 = 1_000_000
    markers = [[f"s{i}-m{j}".encode() for j in range(150)] for i in range(6)]
    writer = SketchCache(old, str(tmp_path))
    for i in range(5):
        sk = writer._new_sketch()
        sk.insert_hashes(*mmh3_x64_128(markers[i]))
        writer._merge_into_bucket(t0 + i * dur, sk, 0.0, "test")
    writer.save()
    cache = SketchCache.resume(new, str(tmp_path), now=t0 + 5 * dur + 10)
    assert [b.start for b in cache.buckets] == [t0 + i * dur for i in (2, 3, 4, 5)]
    assert cache.buckets[-1].end == OPEN_END
    cache.buckets[-1].sketch.insert_hashes(*mmh3_x64_128(markers[5]))
    shapes = {(b.sketch.m, b.sketch.k) for b in cache.buckets}
    assert len(shapes) == 2, shapes
    absent = [f"absent-{j}".encode() for j in range(300)]
    return cache, t0, dur, markers, absent


def _ring_ranges(t0, dur):
    return [
        (t0 + 3 * dur, t0 + 4 * dur - 1),   # single bucket
        (t0 + 3 * dur + 5, OPEN_END),       # three buckets, both shapes
        (0, OPEN_END),                      # all time
        (t0 + 4 * dur, t0 + 3 * dur),       # inverted
        (t0, t0 + 2 * dur - 1),             # evicted: ends before the oldest
        (OPEN_END + 1, OPEN_END + 5),       # live, but overlaps no bucket
    ]


def test_range_hits_over_two_bloom_shapes(tmp_path, monkeypatch):
    """``_range_hits`` over a ring of two (m, k) shapes equals the OR of
    per-bucket ``contains_hashes`` over the overlapping buckets, for
    single, multi, inverted, evicted and overlaps-none ranges; calls
    that the guards answer hash nothing."""
    from marker_spark.cache import sketch_cache
    from marker_spark.hashing import mmh3_x64_128

    cache, t0, dur, markers, absent = _two_shape_ring(tmp_path)
    probes = [m for ms in markers for m in ms] + absent
    ranges = _ring_ranges(t0, dur)
    newest_first = [(b.start, b.end, b.sketch) for b in reversed(cache.buckets)]
    oldest = cache.buckets[0].start

    h1, h2 = mmh3_x64_128(probes)
    want = np.zeros((len(probes), len(ranges)), dtype=bool)
    for j, (lo, hi) in enumerate(ranges):
        if lo <= hi and hi >= oldest:
            for b in cache.buckets:
                if b.overlaps(lo, hi):
                    want[:, j] |= b.sketch.contains_hashes(h1, h2)
    calls = []
    monkeypatch.setattr(sketch_cache, "mmh3_x64_128", lambda p: calls.append(len(p)) or mmh3_x64_128(p))
    got = sketch_cache._range_hits(newest_first, oldest, probes, ranges)
    assert calls == [len(probes)]  # hashed once for every range
    np.testing.assert_array_equal(got, want)
    # no false negatives: slots 2-5 over all time, slot 3 alone, slots 3-5
    assert got[300:900, 2].all() and got[450:600, 0].all() and got[450:900, 1].all()
    assert not got[:, 3:].any()
    for j, (lo, hi) in enumerate(ranges):
        np.testing.assert_array_equal(cache.lookup_from(lo, hi, probes), want[:, j])

    calls.clear()
    guard_only = ranges[3:]
    assert not sketch_cache._range_hits(newest_first, oldest, probes, guard_only).any()
    for lo, hi in guard_only:
        assert not cache.lookup_from(lo, hi, probes).any()
    assert calls == []


def test_range_udf_matches_lookup_from_over_two_bloom_shapes(spark, tmp_path):
    """The per-row-range UDF on the two-shape ring answers each row as
    ``lookup_from`` over that row's range."""
    cache, t0, dur, markers, absent = _two_shape_ring(tmp_path)
    probes = [m for ms in markers for m in ms[:40]] + absent[:40]
    ranges = _ring_ranges(t0, dur)
    rows = [(i, p, lo, hi) for i, (p, (lo, hi)) in enumerate(
        (p, r) for r in ranges for p in probes)]
    df = spark.createDataFrame(rows, "i long, marker binary, lo long, hi long")
    got = cache.lookup_range_join(df, "marker", "lo", "hi").orderBy("i").select("found").toPandas()
    want = np.concatenate([cache.lookup_from(lo, hi, probes) for lo, hi in ranges])
    np.testing.assert_array_equal(got["found"].to_numpy(), want)
    assert want.any() and not want.all()


def test_nullable_bigint_markers_found_through_the_cache(spark):
    """A bigint marker column where one partition holds a NULL and the
    other does not: every inserted value is found by ``lookup_from``
    (driver) and ``lookup_multi_range_udf`` (Arrow UDF), and NULL hashes
    exactly as b"None".  Such a column once reached the hash as float64
    in the NULL's batch only, so 3 was inserted as b"3.0"."""
    p = CacheParams(duration=100, lifespan=300, fp=1e-6, total_capacity=1_000)
    rows = [(T0, 3), (T0, None), (T0 + 1, 7), (T0 + 1, 8)]
    rdd = spark.sparkContext.parallelize(rows, 2)
    df = spark.createDataFrame(rdd, "secs long, m bigint").withColumn(
        "ts", F.col("secs").cast("timestamp")
    )
    assert [len(part) for part in df.rdd.glom().collect()] == [2, 2]
    cache = SketchCache(p)
    cache.insert_batch(df, ts_col="ts", marker_col="m")
    lo, hi = T0 - 100, T0 + 100
    assert cache.lookup_from(lo, hi, [b"3", b"7", b"8", b"None"]).all()
    assert not cache.lookup_from(lo, hi, [b"3.0", b"nan"]).any()
    udf = cache.lookup_multi_range_udf([(lo, hi)])
    got = df.select(udf(F.col("m")).alias("f")).select("f.f0").collect()
    assert [r["f0"] for r in got] == [True] * 4
