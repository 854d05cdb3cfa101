"""Connected-components scale probe: ``ops.dedup.connected_components``
(large-star/small-star rounds to a star forest) claims lineage
truncation and O(log d) rounds; this probe measures that claim the way
span_scale_probe.py measures the span family.  It synthesizes the SAME
graph shape at 1x/10x/100x and records wall time + rounds-to-fixpoint
(``stats["rounds"]``) — pass criteria: wall time grows ~linearly in
edge count, and rounds stay BOUNDED (O(log diameter), not O(diameter)).

Graph shape (deterministic, index arithmetic only — the
formula-synthesis pattern from the media_metadata oracle):
 * cliques: n_edges//20 cliques of 5 nodes (10 edges each) — the shape
   near-dup candidate pairs actually produce (dense clusters of
   mutually-similar docs);
 * chains: 4 chains consuming the other half of the edge budget, each
   n_edges//8 edges LONG — the high-diameter adversary that would force
   min-label propagation into diameter-many rounds and exists to prove
   the log-round claim at scale;
 * node-id space is shuffled by a fixed affine permutation so component
   minima are scattered, not pre-sorted.

Usage:  python BENCH/cc_scale_probe.py [edge_counts] [cpus]
        (default "20000,200000,2000000" and 8; one JSON line per size)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _load1, _steal_pct, _steal_ticks, build_session  # noqa: E402

_P = 2_147_483_647  # permutation modulus (prime > any node id used)


def _perm(x):
    """Fixed affine permutation scattering node ids (scalar or numpy
    array — the single definition both the generator and any expected-
    value derivation use, so the constants can't drift; ADVICE r8)."""
    return (x * 48_271 + 12_345) % _P


def edge_batches(n_edges: int):
    """Yield (u, v) int64 numpy pairs for the clique + chain graph."""
    import numpy as np

    half = n_edges // 2
    n_cliques = max(half // 10, 1)  # 10 edges per 5-clique
    # clique c owns nodes [c*5, c*5+5) in pre-permutation space
    c = np.arange(n_cliques, dtype=np.int64) * 5
    pairs = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    us = np.concatenate([c + i for i, _ in pairs])
    vs = np.concatenate([c + j for _, j in pairs])
    yield us, vs
    # 4 chains, each chain_len edges, node space offset past the cliques
    chain_len = max((n_edges - len(us)) // 4, 1)
    base = n_cliques * 5
    for k in range(4):
        start = base + k * (chain_len + 1)
        nodes = np.arange(start, start + chain_len + 1, dtype=np.int64)
        yield nodes[:-1], nodes[1:]


def _graph_parquet(n_edges: int) -> str:
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"/tmp/marker_cc_probe_{n_edges}.parquet"
    if os.path.exists(path):
        return path
    us, vs = [], []
    for u, v in edge_batches(n_edges):
        us.append(u)
        vs.append(v)
    u = _perm(np.concatenate(us))
    v = _perm(np.concatenate(vs))
    tbl = pa.table({"id_a": u, "id_b": v})
    tmp = f"{path}.tmp-{os.getpid()}"
    # row_group_size: 1 row group = 1 scan task (CLAUDE.md gotcha)
    pq.write_table(tbl, tmp, row_group_size=65_536)
    os.replace(tmp, path)
    return path


def expected_components(n_edges: int) -> int:
    half = n_edges // 2
    n_cliques = max(half // 10, 1)
    return n_cliques + 4


def main() -> None:
    sizes = [
        int(s) for s in (sys.argv[1] if len(sys.argv) > 1 else
                         "20000,200000,2000000").split(",")
    ]
    cpus = sys.argv[2] if len(sys.argv) > 2 else "8"
    from marker_spark.cacheutil import release_all
    from marker_spark.ops.dedup import connected_components

    spark = build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()  # warm JVM + python workers
    for n_edges in sizes:
        path = _graph_parquet(n_edges)  # materialize outside timing
        pairs = spark.read.parquet(path)
        s0 = _steal_ticks()
        load_before = _load1()
        stats: dict = {}
        t0 = time.monotonic()
        labels = connected_components(pairs, stats=stats)
        n_comp = labels.select("component").distinct().count()
        secs = time.monotonic() - t0
        st = _steal_pct(s0, _steal_ticks())
        release_all()
        want = expected_components(n_edges)
        print(json.dumps({
            "n_edges": n_edges,
            "secs": round(secs, 2),
            "rounds": stats.get("rounds"),
            "n_components": n_comp,
            "components_ok": n_comp == want,
            "edges_per_sec": int(n_edges / secs),
            "steal_pct": None if st is None else round(st, 2),
            "load1_before": load_before,
            "cpus": int(cpus),
        }), flush=True)
        assert n_comp == want, (n_comp, want)
    spark.stop()


if __name__ == "__main__":
    main()
