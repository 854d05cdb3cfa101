"""Model-based property test: SketchCache vs an exact model.

Hypothesis drives random op sequences (insert markers at timestamps /
force-age / timerange lookups) against the real cache and a model that
tracks, per marker, the actual Bucket object the cache assigned it to
(an open bucket absorbs all bucket-starts within its [start, inf]
range — the reference's "insert into the current bucket" semantics,
markercache.cpp:197-201).  Invariants:

 * no false negatives: a marker whose bucket is still live and whose
   CURRENT [start, end] overlaps the queried range must be found
   (DBAppUnitTests.cpp:97-106 generalized);
 * guard behavior: inverted ranges and pre-history ranges return
   nothing (markercache.cpp:164-166);
 * eviction: markers whose bucket was aged out may be forgotten.

Sketches are built locally (no Spark) via the same BloomSketch kernels
the Spark path uses; Spark-vs-local build equivalence is covered in
tests/test_agg_spark.py.
"""

from __future__ import annotations

from hypothesis import example, given, settings
from hypothesis import strategies as st

from marker_spark.cache.sketch_cache import OPEN_END, SketchCache
from marker_spark.hashing import mmh3_x64_128
from marker_spark.params import CacheParams

DUR = 100
PARAMS = CacheParams(duration=DUR, lifespan=300, fp=0.001, total_capacity=50_000)
T0 = 10_000


def _local_insert(cache: SketchCache, ts: int, markers: list[bytes]):
    """Driver-side equivalent of insert_batch for one timestamp;
    returns the Bucket object the markers landed in."""
    from marker_spark.sketches.bloom import BloomSketch

    bp = PARAMS.bloom_params()
    sk = BloomSketch(bp.m, bp.k)
    sk.insert_hashes(*mmh3_x64_128(markers))
    bstart = cache.bucket_start_for(ts)
    cache._merge_into_bucket(bstart, sk, 0.0, "model")
    for b in cache.buckets:
        if b.start <= bstart <= b.end:
            return b
    raise AssertionError("inserted marker not assigned to any bucket")


op_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), st.integers(0, 12), st.integers(0, 999)),
        # age at UNALIGNED wall times (third element = in-slot offset):
        # grid-misaligned seals were a real bug class (round-3 fixes)
        st.tuples(st.just("age"), st.integers(1, 12), st.integers(0, DUR - 1)),
        st.tuples(st.just("lookup"), st.integers(-2, 14), st.integers(-2, 14)),
    ),
    min_size=5,
    max_size=40,
)


@settings(max_examples=60, deadline=None)
@given(ops=op_strategy)
# the round-3 orphan sequence: open a bucket early, insert a far-future
# event-time slot into it, then age with a wall clock still below that
# slot — the seal must extend to cover the received slot
@example(ops=[("age", 1, 0), ("insert", 11, 7), ("age", 1, 0), ("lookup", 0, 14)])
def test_cache_vs_exact_model(ops):
    cache = SketchCache(PARAMS)
    assigned: dict[bytes, object] = {}  # marker -> Bucket object
    event_ts: dict[bytes, int] = {}  # marker -> event timestamp
    now = T0

    for kind, a, b in ops:
        if kind == "insert":
            ts = T0 + a * DUR + (b % DUR)  # arbitrary in-slot offset
            marker = f"m-{a}-{b}".encode()
            bucket = _local_insert(cache, ts, [marker])
            # latest assignment wins for re-inserted markers — tracking
            # the FIRST bucket would exempt re-inserts from the FN check
            # once that bucket ages out
            assigned[marker] = bucket
            event_ts[marker] = ts
            # wall clock intentionally NOT advanced to the event time:
            # event-time inserts can run ahead of the ageing clock, the
            # regime where a seal can cut below a received slot
        elif kind == "age":
            now += a * DUR + b  # unaligned ageing times
            cache.maybe_age(now, force=True)
            # EVENT-TIME CONTRACT (the round-3 seal fixes): any marker
            # whose bucket is still live must be found when querying its
            # own event timestamp — a seal cut below a received slot
            # would orphan it outside every bucket's range
            live_now = set(id(bk) for bk in cache.buckets)
            mk = [m for m in sorted(assigned) if id(assigned[m]) in live_now]
            if mk:
                hits = []
                for m in mk:
                    hits.append(bool(cache.lookup_from(event_ts[m], event_ts[m], [m])[0]))
                missing = [m for m, h in zip(mk, hits) if not h]
                assert not missing, f"markers lost at their own event time: {missing}"
        else:  # lookup
            lo = T0 + a * DUR
            hi = T0 + b * DUR
            markers = sorted(assigned)
            if not markers:
                continue
            found = cache.lookup_from(lo, hi, markers)
            live = set(id(bk) for bk in cache.buckets)
            for m, f in zip(markers, found):
                bk = assigned[m]
                visible = (
                    id(bk) in live and bk.start <= hi and lo <= bk.end
                )
                if lo > hi:
                    assert not f, "inverted range must return false"
                elif visible:
                    assert f, f"false negative for {m!r} in [{lo},{hi}]"
                # false positives allowed (bounded by fp): no assertion
                # on invisible markers beyond the guards.

    # final guard: range before all history
    if cache.buckets and assigned:
        markers = sorted(assigned)
        pre = cache.lookup_from(0, cache.buckets[0].start - 1, markers)
        assert not pre.any(), "pre-history lookup must be empty"
