"""The state codec (Spark-free): ``agg.pack_state`` deflates every
sketch state once, at level 1 with zlib's run-length strategy, behind
``MSKZ``, or ships a dense one raw behind ``MSKR``; ``unpack_state`` and
``state_prefix`` read both and every state packed at plain level 1.
The library deflates in no other place but the PNG encoder."""

from __future__ import annotations

import ast
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest

from marker_spark import agg
from marker_spark.agg import _RMAGIC, _ZMAGIC, pack_state, state_prefix, unpack_state
from marker_spark.hashing import mmh3_ngram_i32
from marker_spark.sketches.bloom import PREFIX_BYTES, BloomSketch
from marker_spark.sketches.cms import CmsSketch
from marker_spark.sketches.hll import HllSketch
from marker_spark.sketches.kll import KllSketch
from marker_spark.sketches.minhash import MinHashSketch
from marker_spark.sketches.misra_gries import MisraGriesSketch
from marker_spark.sketches.tdigest import TDigestSketch
from marker_spark.sketches.theta import ThetaSketch

from tests.helpers import peak_scratch

MIB = 1 << 20


def _hashes(n: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    return (rng.integers(0, 2**63, n, dtype=np.uint64),
            rng.integers(0, 2**63, n, dtype=np.uint64))


def _bloom(m: int, n: int, seed: int = 1) -> BloomSketch:
    bf = BloomSketch(m, 7)
    bf.insert_hashes(*_hashes(n, seed))
    return bf


def _dense_bloom(nbytes: int, seed: int = 2) -> BloomSketch:
    """A ~50%-density bitmap: what a merged hot-group Bloom looks like."""
    blocks = np.random.default_rng(seed).integers(0, 2**64, nbytes // 8, dtype=np.uint64)
    return BloomSketch(nbytes * 8, 7, blocks=blocks, n_inserted=nbytes)


def _unigram_cms(ntok: int = 20_000, seed: int = 7) -> CmsSketch:
    """The api's default CMS (d=5, w=2^16) over zipf token unigrams,
    hashed as ``kernels.ngram_updater`` hashes them (~93% zero cells)."""
    flat = (np.random.default_rng(seed).zipf(1.2, ntok) % 50_000).astype(np.int32)
    sk = CmsSketch(d=5, w=1 << 16)
    sk.update_hashes(*mmh3_ngram_i32(flat, np.arange(ntok, dtype=np.int64), 1))
    return sk


def _states():
    rng = np.random.default_rng(3)
    h1, _ = _hashes(50_000, 4)
    hll, hll_sparse = HllSketch(p=14), HllSketch(p=14)
    hll.update_hashes(h1)
    hll_sparse.update_hashes(h1[:100])
    kll, td = KllSketch(k=200), TDigestSketch(delta=100)
    kll.update(rng.lognormal(3, 1, 20_000))
    td.update(rng.lognormal(3, 1, 20_000))
    theta, mh = ThetaSketch(k=4096), MinHashSketch(num_perm=128)
    theta.update_hashes(h1)
    mh.update_hashes(h1)
    mg = MisraGriesSketch(k=64)
    mg.update(rng.zipf(1.5, 20_000).astype(np.int64))
    return {
        "bloom_dense": _dense_bloom(64 * 1024),
        "bloom_sparse": _bloom(1 << 20, 2_000),
        "hll": hll,
        "hll_sparse": hll_sparse,
        "cms": _unigram_cms(),
        "kll": kll,
        "tdigest": td,
        "theta": theta,
        "misra_gries": mg,
        "minhash": mh,
    }


STATES = _states()


@pytest.mark.parametrize("name", sorted(STATES))
def test_pack_roundtrip_every_kind(name):
    sk = STATES[name]
    packed = pack_state(sk)
    assert packed[:4] == _ZMAGIC
    for buf in (packed, pa.array([packed], pa.binary())[0].as_buffer()):
        back = unpack_state(type(sk), buf)
        assert back.to_bytes() == sk.to_bytes()
        # the single-partial merge passes a state through unchanged
        assert pack_state(back) == packed
    # a raw state reaches from_bytes as a read-only view of the column
    raw = pa.array([_RMAGIC + sk.to_bytes()], pa.binary())[0].as_buffer()
    back = unpack_state(type(sk), raw)
    assert back.to_bytes() == sk.to_bytes()
    back.merge_in_place(unpack_state(type(sk), raw))


def _count_deflate(monkeypatch) -> list[int]:
    """Patch ``agg``'s zlib so the length of every input deflated, by
    a ``compressobj`` or ``zlib.compress``, is recorded; returns that
    list."""
    fed: list[int] = []

    class _Obj:
        def __init__(self, *args):
            self._z = zlib.compressobj(*args)

        def compress(self, data):
            fed.append(len(data))
            return self._z.compress(data)

        def flush(self, *mode):
            return self._z.flush(*mode)

    class _Zlib:
        compressobj = _Obj

        def __getattr__(self, name):
            return getattr(zlib, name)

        @staticmethod
        def compress(data, *args):
            fed.append(len(data))
            return zlib.compress(data, *args)

    monkeypatch.setattr(agg, "zlib", _Zlib())
    return fed


def test_large_compressible_state_is_deflated_once(monkeypatch):
    bf = _bloom(24 * MIB, 20_000)  # 3 MiB bitmap, ~0.6% of bits set
    raw = bf.to_bytes()
    fed = _count_deflate(monkeypatch)
    packed = pack_state(bf)
    assert sum(fed) == len(raw)
    assert packed[:4] == _ZMAGIC and len(packed) < len(raw) // 4
    assert unpack_state(BloomSketch, packed).to_bytes() == raw
    assert BloomSketch.shape_from_bytes(state_prefix(packed, PREFIX_BYTES)) == (bf.m, bf.k)


def test_dense_large_state_ships_raw():
    bf = _dense_bloom(2 * MIB)
    packed = pack_state(bf)
    assert packed[:4] == _RMAGIC and packed[4:] == bf.to_bytes()
    assert unpack_state(BloomSketch, packed).to_bytes() == bf.to_bytes()
    assert pack_state(unpack_state(BloomSketch, packed)) == packed
    assert BloomSketch.shape_from_bytes(state_prefix(packed, PREFIX_BYTES)) == (bf.m, bf.k)


@pytest.mark.parametrize("name", ["bloom_sparse", "cms", "hll", "kll"])
def test_legacy_level1_states_still_read(name):
    """Tables written before the run-length strategy hold plain level-1
    streams under the same magic."""
    sk = STATES[name]
    legacy = _ZMAGIC + zlib.compress(sk.to_bytes(), 1)
    assert legacy != pack_state(sk)
    assert unpack_state(type(sk), legacy).to_bytes() == sk.to_bytes()
    assert state_prefix(legacy, 64) == sk.to_bytes()[:64]
    if name == "bloom_sparse":
        assert BloomSketch.shape_from_bytes(state_prefix(legacy, PREFIX_BYTES)) == (sk.m, sk.k)


def test_cms_unigram_state_packs_below_level1():
    sk = _unigram_cms()
    assert len(pack_state(sk)) - 4 <= 0.65 * len(zlib.compress(sk.to_bytes(), 1))


def test_unpack_raw_state_copies_it_once():
    """A raw state read out of an Arrow column is copied once, into the
    sketch: no ``bytes`` copy of the column value, none of its payload."""
    bf = _dense_bloom(8 * MIB)
    col = pa.array([pack_state(bf)], pa.binary())
    assert col[0].as_buffer()[:4] == _RMAGIC
    state = len(bf.to_bytes())
    del bf
    back, peak = peak_scratch(lambda: unpack_state(BloomSketch, col[0].as_buffer()))
    assert back.to_bytes() == col[0].as_py()[4:]
    assert peak <= 1.1 * state, (peak, state)


# --- one deflate in the library ---------------------------------------------

LIBRARY = Path(__file__).resolve().parents[1] / "marker_spark"
DEFLATE_NAMES = {"compress", "compressobj"}
ALLOWED = {("marker_spark/agg.py", "pack_state"), ("marker_spark/ops/multimodal.py", "encode_png")}


def _deflate_calls(tree: ast.AST) -> list[tuple[int, str | None]]:
    """(line, enclosing function) of every ``zlib.compress`` /
    ``zlib.compressobj`` call, also through ``from zlib import``."""
    aliases = {
        a.asname or a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.module == "zlib"
        for a in node.names if a.name in DEFLATE_NAMES
    }
    found = []

    def visit(node: ast.AST, func: str | None) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if isinstance(node, ast.Call):
            f = node.func
            if (isinstance(f, ast.Attribute) and f.attr in DEFLATE_NAMES
                    and isinstance(f.value, ast.Name) and f.value.id == "zlib") or (
                    isinstance(f, ast.Name) and f.id in aliases):
                found.append((node.lineno, func))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, None)
    return found


def test_guard_sees_each_deflate_call():
    src = (
        "import zlib\nfrom zlib import compressobj as co\n"
        "zlib.compress(b'x', 1)\n"
        "def pack_state(sk):\n    return zlib.compressobj(1).compress(b'')\n"
        "def other():\n    return co(1)\n"
    )
    assert _deflate_calls(ast.parse(src)) == [(3, None), (5, "pack_state"), (7, "other")]
    assert _deflate_calls(ast.parse("import zlib\nzlib.decompress(b'')\nz.compress(b'')\n")) == []


def test_library_deflates_only_in_pack_state_and_png():
    files = sorted(LIBRARY.rglob("*.py"))
    assert files
    seen, bad = set(), {}
    for p in files:
        rel = str(p.relative_to(LIBRARY.parent))
        for line, func in _deflate_calls(ast.parse(p.read_text(), filename=str(p))):
            if (rel, func) in ALLOWED:
                seen.add((rel, func))
            else:
                bad.setdefault(rel, []).append((line, func))
    assert not bad, bad
    assert seen == ALLOWED
