"""Error-bound + merge + serde tests for HLL, CMS, KLL, t-digest.

Bounds per SURVEY.md §2 Part C with the x3 safety factor of
FIXTURES.md §6; exact answers from numpy (DuckDB cross-checks live in
test_oracles.py).
"""

from __future__ import annotations

import numpy as np
import pytest

from marker_spark.hashing import mmh3_x64_128
from marker_spark.sketches.cms import CmsSketch
from marker_spark.sketches.hll import HllSketch
from marker_spark.sketches.kll import KllSketch
from marker_spark.sketches.tdigest import TDigestSketch


def _byte_items(ids: np.ndarray) -> list[bytes]:
    return [int(i).to_bytes(8, "little") for i in ids]


# --- HLL ---------------------------------------------------------------------

@pytest.mark.parametrize("true_n", [100, 5_000, 200_000])
def test_hll_error_bound(true_n):
    sk = HllSketch(p=12)
    ids = np.arange(true_n)
    sk.update(_byte_items(ids))
    est = sk.estimate()
    tol = 3 * sk.std_error  # 3 sigma
    assert abs(est - true_n) / true_n <= tol, (est, true_n)


def test_hll_merge_exact_state():
    ids = np.arange(50_000)
    whole = HllSketch(p=12)
    whole.update(_byte_items(ids))
    parts = [HllSketch(p=12) for _ in range(4)]
    for i, p in enumerate(parts):
        p.update(_byte_items(ids[i::4]))
    merged = parts[3]
    for p in (parts[1], parts[0], parts[2]):
        merged.merge_in_place(p)
    np.testing.assert_array_equal(merged.registers, whole.registers)


def test_hll_serde():
    sk = HllSketch(p=10)
    sk.update(_byte_items(np.arange(1000)))
    back = HllSketch.from_bytes(sk.to_bytes())
    assert back.p == 10
    np.testing.assert_array_equal(back.registers, sk.registers)
    assert back.estimate() == sk.estimate()


def test_hll_duplicates_dont_inflate():
    sk = HllSketch(p=12)
    items = _byte_items(np.arange(100))
    for _ in range(50):
        sk.update(items)
    assert abs(sk.estimate() - 100) / 100 <= 3 * sk.std_error


# --- CMS ---------------------------------------------------------------------

def test_cms_never_undershoots_and_eps_bound():
    rng = np.random.default_rng(42)
    # zipf-ish frequencies over 2000 distinct keys
    keys = rng.zipf(1.3, size=100_000) % 2000
    uniq, true_counts = np.unique(keys, return_counts=True)
    sk = CmsSketch.from_error_bound(eps=0.001, delta=0.01)
    sk.update(_byte_items(keys))
    est = sk.query(_byte_items(uniq)).astype(np.int64)
    assert (est >= true_counts).all(), "CMS undershoot — impossible by construction"
    overshoot = est - true_counts
    n = len(keys)
    # eps*N bound with prob 1-delta; allow delta fraction of violations x3
    viol = (overshoot > sk.eps * n).mean()
    assert viol <= 3 * sk.delta


def test_cms_merge_exact_state():
    rng = np.random.default_rng(1)
    keys = rng.integers(0, 500, size=20_000)
    whole = CmsSketch(d=5, w=4096)
    whole.update(_byte_items(keys))
    parts = [CmsSketch(d=5, w=4096) for _ in range(3)]
    for i, p in enumerate(parts):
        p.update(_byte_items(keys[i::3]))
    merged = parts[2]
    merged.merge_in_place(parts[0]).merge_in_place(parts[1])
    np.testing.assert_array_equal(merged.grid, whole.grid)
    assert merged.total == whole.total


def test_cms_weighted_updates_and_serde():
    sk = CmsSketch(d=4, w=1024)
    items = _byte_items(np.arange(10))
    sk.update(items, counts=np.arange(1, 11))
    back = CmsSketch.from_bytes(sk.to_bytes())
    est = back.query(items)
    assert (est.astype(np.int64) >= np.arange(1, 11)).all()
    assert back.total == 55


# --- KLL ---------------------------------------------------------------------

@pytest.mark.parametrize("dist", ["uniform", "lognormal", "bimodal"])
def test_kll_rank_error(dist):
    rng = np.random.default_rng(42)
    n = 200_000
    if dist == "uniform":
        vals = rng.uniform(0, 1000, n)
    elif dist == "lognormal":
        vals = rng.lognormal(3, 1.5, n)
    else:
        vals = np.concatenate([rng.normal(0, 1, n // 2), rng.normal(100, 5, n // 2)])
    sk = KllSketch(k=200)
    # feed in chunks like Arrow batches
    for chunk in np.array_split(vals, 37):
        sk.update(chunk)
    assert sk.n == n
    qs = np.array([0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99])
    est = sk.quantile(qs)
    sorted_vals = np.sort(vals)
    for q, e in zip(qs, est):
        # rank error: the estimate's true rank must be within eps of q
        true_rank = np.searchsorted(sorted_vals, e, side="right") / n
        assert abs(true_rank - q) <= sk.rank_error, (dist, q, true_rank)


def test_kll_merge_within_bound():
    rng = np.random.default_rng(7)
    vals = rng.normal(50, 10, 100_000)
    parts = []
    for chunk in np.array_split(vals, 8):
        p = KllSketch(k=200)
        p.update(chunk)
        parts.append(p)
    merged = parts[5]
    for p in (parts[2], parts[7], parts[0], parts[1], parts[6], parts[3], parts[4]):
        merged.merge_in_place(p)
    assert merged.n == len(vals)
    sorted_vals = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        e = merged.quantile(q)
        true_rank = np.searchsorted(sorted_vals, e, side="right") / len(vals)
        assert abs(true_rank - q) <= merged.rank_error


def test_kll_serde():
    sk = KllSketch(k=128)
    sk.update(np.arange(10_000, dtype=np.float64))
    back = KllSketch.from_bytes(sk.to_bytes())
    assert back.n == sk.n and back.k == sk.k
    np.testing.assert_array_equal(back.quantile(np.linspace(0, 1, 11)),
                                  sk.quantile(np.linspace(0, 1, 11)))


# --- t-digest -------------------------------------------------------------------

def test_tdigest_quantile_error():
    rng = np.random.default_rng(42)
    n = 200_000
    vals = rng.lognormal(0, 1, n)
    sk = TDigestSketch(delta=200)
    for chunk in np.array_split(vals, 23):
        sk.update(chunk)
    sorted_vals = np.sort(vals)
    for q in (0.01, 0.1, 0.5, 0.9, 0.99):
        e = sk.quantile(q)
        true_rank = np.searchsorted(sorted_vals, e, side="right") / n
        # rank-space tolerance, tighter at tails per t-digest design
        tol = max(0.01, 6 * q * (1 - q) / np.sqrt(sk.delta))
        assert abs(true_rank - q) <= tol, (q, true_rank)
    assert len(sk.means) <= 2 * sk.delta


def test_tdigest_merge_and_serde():
    rng = np.random.default_rng(3)
    vals = rng.normal(0, 1, 50_000)
    parts = []
    for chunk in np.array_split(vals, 5):
        p = TDigestSketch(delta=150)
        p.update(chunk)
        parts.append(p)
    merged = parts[1]
    for p in (parts[4], parts[0], parts[3], parts[2]):
        merged.merge_in_place(p)
    back = TDigestSketch.from_bytes(merged.to_bytes())
    assert back.total == pytest.approx(len(vals))
    sorted_vals = np.sort(vals)
    for q in (0.1, 0.5, 0.9):
        e = back.quantile(q)
        true_rank = np.searchsorted(sorted_vals, e, side="right") / len(vals)
        assert abs(true_rank - q) <= 0.02


# --- MinHash -------------------------------------------------------------------

def test_minhash_jaccard_estimate():
    from marker_spark.sketches.minhash import MinHashSketch

    rng = np.random.default_rng(42)
    a_items = set(map(int, rng.integers(0, 10**9, 30_000)))
    # build B sharing ~50% of A
    a_list = list(a_items)
    shared = a_list[: len(a_list) // 2]
    extra = set(map(int, rng.integers(10**9, 2 * 10**9, len(a_list) - len(shared))))
    b_items = set(shared) | extra
    true_j = len(a_items & b_items) / len(a_items | b_items)

    A, B = MinHashSketch(num_perm=256), MinHashSketch(num_perm=256)
    A.update(_byte_items(np.array(sorted(a_items))))
    B.update(_byte_items(np.array(sorted(b_items))))
    est = A.jaccard(B)
    assert abs(est - true_j) <= 3 * A.std_error


def test_minhash_merge_exact_state_and_serde():
    from marker_spark.sketches.minhash import MinHashSketch

    ids = np.arange(10_000)
    whole = MinHashSketch(num_perm=128)
    whole.update(_byte_items(ids))
    parts = [MinHashSketch(num_perm=128) for _ in range(3)]
    for i, p in enumerate(parts):
        p.update(_byte_items(ids[i::3]))
    merged = parts[1]
    merged.merge_in_place(parts[2]).merge_in_place(parts[0])
    np.testing.assert_array_equal(merged.mins, whole.mins)
    back = MinHashSketch.from_bytes(merged.to_bytes())
    np.testing.assert_array_equal(back.mins, whole.mins)
    assert back.jaccard(whole) == 1.0


# --- Theta (KMV) ------------------------------------------------------------------

def test_theta_distinct_estimate():
    from marker_spark.sketches.theta import ThetaSketch

    for true_n in (1000, 50_000, 500_000):
        sk = ThetaSketch(k=4096)
        sk.update(_byte_items(np.arange(true_n)))
        est = sk.estimate()
        assert abs(est - true_n) / true_n <= 3 * sk.std_error, (true_n, est)


def test_theta_set_operations():
    from marker_spark.sketches.theta import ThetaSketch

    n = 200_000
    a_ids = np.arange(0, n)                 # [0, 200k)
    b_ids = np.arange(n // 2, n + n // 2)   # [100k, 300k): |A∩B| = 100k
    A, B = ThetaSketch(k=8192), ThetaSketch(k=8192)
    A.update(_byte_items(a_ids))
    B.update(_byte_items(b_ids))

    inter = A.intersection_estimate(B)
    assert abs(inter - n // 2) / (n // 2) <= 5 * A.std_error, inter
    diff = A.difference_estimate(B)
    assert abs(diff - n // 2) / (n // 2) <= 5 * A.std_error, diff

    # union via merge
    U = ThetaSketch.from_bytes(A.to_bytes())
    U.merge_in_place(B)
    true_union = int(3 * n / 2)
    assert abs(U.estimate() - true_union) / true_union <= 3 * U.std_error


def test_theta_merge_order_invariant_and_serde():
    from marker_spark.sketches.theta import ThetaSketch

    ids = np.arange(100_000)
    parts = []
    for i in range(4):
        p = ThetaSketch(k=1024)
        p.update(_byte_items(ids[i::4]))
        parts.append(p)

    def build(order):
        acc = ThetaSketch.from_bytes(parts[order[0]].to_bytes())
        for i in order[1:]:
            acc.merge_in_place(ThetaSketch.from_bytes(parts[i].to_bytes()))
        return acc

    a = build([0, 1, 2, 3])
    b = build([3, 1, 0, 2])
    assert a.theta == b.theta
    np.testing.assert_array_equal(a.samples, b.samples)
    back = ThetaSketch.from_bytes(a.to_bytes())
    assert back.estimate() == a.estimate()


def test_hll_malformed_buffer_rejected():
    """Truncated or over-long serialized HLL must raise, not silently
    produce a malformed sketch (ADVICE: hll.py from_bytes read to EOF)."""
    from marker_spark.sketches.hll import HllSketch

    sk = HllSketch(p=10)
    sk.update([b"a", b"b", b"c"])
    buf = sk.to_bytes()
    with pytest.raises(ValueError):
        HllSketch.from_bytes(buf[:-5])  # truncated register block
    # over-long buffer: trailing junk must not leak into the registers
    rt = HllSketch.from_bytes(buf + b"\xff" * 16)
    assert rt.m == sk.m and np.array_equal(rt.registers, sk.registers)
    with pytest.raises(ValueError):
        HllSketch(p=10, registers=np.zeros(17, dtype=np.uint8))


def test_cms_huge_weights_exact():
    """Per-batch counts beyond float64's 2^53 integer range must take the
    exact np.add.at path instead of rounding in bincount."""
    from marker_spark.sketches.cms import CmsSketch

    sk = CmsSketch(d=3, w=1 << 10)
    big = np.array([(1 << 53) + 3, 5], dtype=np.uint64)
    sk.update([b"x", b"y"], counts=big)
    est = sk.query([b"x", b"y"])
    assert int(est[0]) >= (1 << 53) + 3  # CMS never undershoots
    assert int(est[0]) - ((1 << 53) + 3) < 1 << 20  # and wasn't rounded


def test_misra_gries_bounds_and_recovery():
    """MG guarantees: stored counts never overestimate, underestimate by
    at most offset <= N/(k+1), and every item above that threshold is
    present; zipf top items recovered."""
    from marker_spark.sketches.misra_gries import MisraGriesSketch

    rng = np.random.default_rng(11)
    data = rng.zipf(1.5, 200_000)
    data = data[data < 100_000].astype(np.int64)
    sk = MisraGriesSketch(k=64)
    for lo in range(0, len(data), 10_000):  # streamed batches
        sk.update(data[lo : lo + 10_000])
    true = {int(v): int(c) for v, c in zip(*np.unique(data, return_counts=True))}
    n = len(data)
    assert sk.total == n
    assert sk.offset <= n // (64 + 1) + 1
    est = sk.estimate(sk.items)
    for item, lo_est in zip(sk.items, est):
        t = true[int(item)]
        assert lo_est <= t <= lo_est + sk.offset, (item, lo_est, t)
    # every item above N/(k+1) must be in the summary
    thresh = n / 65
    for item, cnt in true.items():
        if cnt > thresh:
            assert item in set(sk.items.tolist()), (item, cnt, thresh)


def test_misra_gries_merge_within_bound_and_serde():
    from marker_spark.sketches.misra_gries import MisraGriesSketch

    rng = np.random.default_rng(12)
    data = rng.zipf(1.3, 90_000).astype(np.int64)
    parts = np.array_split(data, 7)
    orders = [list(range(7)), [3, 0, 6, 1, 5, 2, 4]]
    merged = []
    for order in orders:
        sks = []
        for p in parts:
            s = MisraGriesSketch(k=48)
            s.update(p)
            sks.append(s)
        acc = sks[order[0]]
        for i in order[1:]:
            acc.merge_in_place(sks[i])
        merged.append(acc)
    true = {int(v): int(c) for v, c in zip(*np.unique(data, return_counts=True))}
    n = len(data)
    for acc in merged:
        assert acc.total == n and acc.offset <= n // 49 + 1
        for item, lo in zip(acc.items, acc.counts):
            t = true[int(item)]
            assert lo <= t <= lo + acc.offset
    # serde roundtrip is exact
    rt = MisraGriesSketch.from_bytes(merged[0].to_bytes())
    assert rt.k == merged[0].k and rt.offset == merged[0].offset
    assert np.array_equal(rt.items, merged[0].items)
    assert np.array_equal(rt.counts, merged[0].counts)
    # weighted updates
    w = MisraGriesSketch(k=8)
    w.update(np.array([1, 2, 1]), weights=np.array([10, 5, 90]))
    assert w.estimate(np.array([1]))[0] == 100


def test_hll_sparse_serde():
    """Low-cardinality sketches serialize sparse (far smaller than 2^p),
    roundtrip exactly, and merge with dense ones; corrupted sparse
    indices are rejected."""
    from marker_spark.sketches.hll import HllSketch

    small = HllSketch(p=14)
    small.update([f"x{i}".encode() for i in range(50)])
    buf = small.to_bytes()
    assert len(buf) < (1 << 14) // 4  # way below dense size
    rt = HllSketch.from_bytes(buf)
    assert np.array_equal(rt.registers, small.registers)

    big = HllSketch(p=14)
    big.update([f"y{i}".encode() for i in range(100_000)])
    dense_buf = big.to_bytes()
    assert len(dense_buf) >= (1 << 14)  # dense form kept when smaller
    merged = HllSketch.from_bytes(dense_buf).merge_in_place(HllSketch.from_bytes(buf))
    ref = HllSketch(p=14)
    ref.update([f"y{i}".encode() for i in range(100_000)])
    ref.merge_in_place(small)
    assert np.array_equal(merged.registers, ref.registers)

    # corrupted sparse index (>= 2^p) is rejected
    bad = bytearray(buf)
    import struct as _s

    # header(6) + params(2) + n(4): first index starts at offset 12
    _s.pack_into("<I", bad, 12, 1 << 20)
    with pytest.raises(ValueError):
        HllSketch.from_bytes(bytes(bad))


def test_hll_serde_version_compat():
    """from_bytes must parse BOTH historical layouts (ADVICE r2): the
    original v1 payload (1-byte p + dense registers) and the interim
    2-byte (p, encoding) payload that shipped under a v1 header, while
    new buffers carry version 2."""
    import struct

    from marker_spark.sketches.base import KIND_HLL, pack_header
    from marker_spark.sketches.hll import _PARAMS, _SPARSE_N, HllSketch

    sk = HllSketch(p=10)
    sk.update([f"item-{i}".encode() for i in range(5_000)])
    regs = sk.registers

    # new buffers: version byte == 2, roundtrip exact
    buf = sk.to_bytes()
    assert buf[5] == 2
    assert np.array_equal(HllSketch.from_bytes(buf).registers, regs)

    # (a) original v1: 1-byte p, dense registers
    legacy = pack_header(KIND_HLL, 1) + struct.pack("<B", sk.p) + regs.tobytes()
    back = HllSketch.from_bytes(legacy)
    assert back.p == sk.p and np.array_equal(back.registers, regs)

    # (b) interim v1 header with the 2-byte (p, encoding) payload — dense
    interim_dense = pack_header(KIND_HLL, 1) + _PARAMS.pack(sk.p, 0) + regs.tobytes()
    back = HllSketch.from_bytes(interim_dense)
    assert np.array_equal(back.registers, regs)

    # (b) interim sparse
    nz = np.flatnonzero(regs)[:50]
    sparse_regs = np.zeros_like(regs)
    sparse_regs[nz] = regs[nz]
    interim_sparse = (
        pack_header(KIND_HLL, 1)
        + _PARAMS.pack(sk.p, 1)
        + _SPARSE_N.pack(len(nz))
        + nz.astype("<u4").tobytes()
        + regs[nz].tobytes()
    )
    back = HllSketch.from_bytes(interim_sparse)
    assert np.array_equal(back.registers, sparse_regs)

    # unknown future version still rejected
    future = bytes(buf[:5]) + b"\x09" + bytes(buf[6:])
    with pytest.raises(ValueError):
        HllSketch.from_bytes(future)


def test_mg_serde_explicit_little_endian():
    """The MG item-count field is explicit little-endian on the wire
    (ADVICE r2: np.int64.tobytes() was native-order while the reader
    used '<q')."""
    import struct

    from marker_spark.sketches.misra_gries import _PARAMS, MisraGriesSketch

    sk = MisraGriesSketch(k=8)
    sk.update(np.array([1, 1, 2, 3, 3, 3], dtype=np.int64))
    buf = sk.to_bytes()
    off = 6 + _PARAMS.size
    (n,) = struct.unpack_from("<q", buf, off)
    assert n == len(sk.items)
    back = MisraGriesSketch.from_bytes(buf)
    assert np.array_equal(back.items, sk.items)
    assert np.array_equal(back.counts, sk.counts)


# ---------------------------------------------------------------------------
# Serde robustness, ALL sketches: a truncated wire buffer must raise,
# never silently parse into a plausible-but-wrong state (states cross
# the Python<->JVM boundary zlib-packed per group; a short read that
# "succeeds" would poison a merge silently).  Trailing junk must either
# be rejected or be provably inert (byte-identical re-serialization) —
# both engines' behavior is pinned per class below.
# ---------------------------------------------------------------------------


def _all_sketches():
    from marker_spark.params import BloomParams
    from marker_spark.sketches.bloom import BloomSketch
    from marker_spark.sketches.minhash import MinHashSketch
    from marker_spark.sketches.misra_gries import MisraGriesSketch
    from marker_spark.sketches.theta import ThetaSketch

    items = [f"item{i}".encode() for i in range(500)]
    vals = np.random.default_rng(1).normal(size=500)
    p = BloomParams.solve(4096, 0.001)
    bloom = BloomSketch(p.m, p.k)
    bloom.insert_hashes(*mmh3_x64_128(items))
    hll = HllSketch(p=10)
    hll.update(items)
    cms = CmsSketch(d=4, w=256)
    cms.update(items)
    kll = KllSketch(k=64)
    kll.update(vals)
    td = TDigestSketch(delta=100)
    td.update(vals)
    mh = MinHashSketch(num_perm=32)
    mh.update(items)
    th = ThetaSketch(k=64)
    th.update(items)
    mg = MisraGriesSketch(16)
    mg.update(np.arange(500, dtype=np.int64) % 37)
    return {
        "bloom": bloom, "hll": hll, "cms": cms, "kll": kll,
        "tdigest": td, "minhash": mh, "theta": th, "misra_gries": mg,
    }


@pytest.mark.parametrize("name,sk", sorted(_all_sketches().items()))
def test_truncated_wire_buffer_always_raises(name, sk):
    buf = sk.to_bytes()
    cls = type(sk)
    # every prefix length in a structured sample: inside the header,
    # inside the params block, mid-payload, and off-by-one at the end
    for n in {1, 3, 6, 10, len(buf) // 2, len(buf) - 8, len(buf) - 1}:
        if not (0 < n < len(buf)):
            continue
        try:
            got = cls.from_bytes(buf[:n])
        except Exception:
            continue  # any raise is the correct behavior
        raise AssertionError(
            f"{name}: from_bytes silently accepted a {n}/{len(buf)}-byte prefix: {got!r}"
        )


@pytest.mark.parametrize("name,sk", sorted(_all_sketches().items()))
def test_trailing_junk_is_rejected_or_inert(name, sk):
    buf = sk.to_bytes()
    cls = type(sk)
    try:
        rt = cls.from_bytes(buf + b"\xff" * 16)
    except ValueError:
        return  # rejection is fine (bloom/cms measure the exact length)
    assert rt.to_bytes() == buf, f"{name}: trailing junk leaked into state"
