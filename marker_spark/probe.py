"""Read-side: probe DataFrames against a distributed sketch table.

The write side produces a sketch table (group..., sketch binary) —
parquet/Iceberg rows, one per (source, bucket, ...).  This module
evaluates membership/estimates for probe rows WITHOUT the sketch bytes
ever entering the probe plan: the per-group state dict is bounded
(one row per group — the same volume the reference's reader process
maps into its address space), so it is collected once, shipped to
executors via a Spark broadcast, and looked up inside the UDF keyed by
the row's group columns.  The alternative — a broadcast JOIN attaching
the blob to every probe row — materializes each row's copy of the
multi-hundred-KB state through the JVM→Python Arrow path,
O(probes × state_bytes) movement (the repo's measured read-side
scale-killer; CLAUDE.md round-3 decisions).

With zero group columns the table holds one state keyed ``()`` and
every probe row is answered against it — the ungrouped probe is the
keyed probe with no keys, not a separate UDF.

This is the distributed generalization of the reference's reader
process: attach to published filter state, answer membership
(/root/reference/markercache.cpp:143-152,161-195) — with a sketch
table instead of a shared-memory segment.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .agg import SKETCH_COL, _split_groups, check_input_col, qcol, unpack_state
from .hashing import _HASH_CHUNK, mmh3_ngram_i32, mmh3_offsets
from .kernels import arrow_list_view, arrow_marker_bytes
from .ngrams import ngram_slices
from .sketches.bloom import BloomSketch


#: Collecting more serialized state than this is almost certainly a
#: mis-specified group key (e.g. grouping by a high-cardinality column):
#: fail loudly instead of OOMing the driver / flooding the broadcast.
MAX_STATE_BYTES = 1 << 30  # 1 GiB


def collect_sketch_states(
    sketch_table: DataFrame, group_cols: list[str], max_bytes: int = MAX_STATE_BYTES
) -> dict[tuple, bytes]:
    """Collect the bounded per-group serialized states once:
    O(#groups × state_bytes), the exact volume the reference reader
    mmaps.  Duplicate group rows keep the last.

    The "bounded" assumption is enforced: a cheap pre-pass sums
    ``length(sketch)`` (scalar aggregate, no payload movement) and
    raises if the total exceeds ``max_bytes`` — an unexpectedly wide
    sketch table surfaces as a clear error instead of a driver OOM.

    Keys are CAST TO STRING on the Spark side, as the probe UDF casts
    its key columns: string keys are exact at any magnitude, and a
    NULL key stays ``None``."""
    # persist around the guard + collect pair: the caller often hands
    # in the UNPERSISTED build plan, and without this the guard's
    # length aggregation would execute the whole two-phase sketch
    # build once and the row collect would execute it AGAIN
    was_cached = sketch_table.is_cached
    if not was_cached:
        sketch_table.persist()
    try:
        total = sketch_table.agg(
            F.sum(F.length(F.col(SKETCH_COL))).alias("b"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        if total["b"] is not None and total["b"] > max_bytes:
            raise ValueError(
                f"sketch table holds {total['b']} serialized state bytes across "
                f"{total['n']} groups, above the {max_bytes}-byte collect cap — "
                "the per-group state dict would not be driver/broadcast-bounded. "
                "Check the group columns (high-cardinality key?) or raise "
                "max_bytes explicitly."
            )
        rows = sketch_table.select(
            *[qcol(c).cast("string") for c in group_cols], SKETCH_COL
        ).collect()
    finally:
        if not was_cached:
            sketch_table.unpersist()
    k = len(group_cols)
    return {tuple(r[:k]): bytes(r[k]) for r in rows if r[k] is not None}


def _marker_hits(bf: BloomSketch, markers: pa.Array) -> np.ndarray:
    """Is each marker in the filter (reference lookup)."""
    return bf.contains_hashes(*mmh3_offsets(*arrow_marker_bytes(markers)))


def _ngram_hits(n: int):
    """``hits(bf, tokens)``: does each array<int> row hold at least one
    token n-gram present in the filter.  Raises ``ValueError`` for
    ``n < 1``."""
    if n < 1:
        raise ValueError(f"ngram must be >= 1, got {n}")

    def hits(bf: BloomSketch, tokens: pa.Array) -> np.ndarray:
        out = np.zeros(len(tokens), dtype=bool)
        flat, offsets = arrow_list_view(tokens)
        flat = flat.astype(np.int32, copy=False)
        per_doc = np.maximum(np.diff(offsets) - n + 1, 0)
        # one row slice of at most _HASH_CHUNK n-grams at a time
        for lo, hi, starts in ngram_slices(offsets, n, _HASH_CHUNK):
            if len(starts):
                found = bf.contains_hashes(*mmh3_ngram_i32(flat, starts, n))
                # any() per doc: OR-reduce each doc's run of n-gram hits
                counts = per_doc[lo:hi]
                nz = counts > 0
                out[lo:hi][nz] = np.logical_or.reduceat(found, (np.cumsum(counts) - counts)[nz])
        return out

    return hits


def make_keyed_membership_udf(bcast, n_keys: int, hits):
    """Arrow UDF (string group cols..., probe col) -> boolean.  States
    come from the broadcast dict; each group's sketch is deserialized
    once per worker (memo dict, bounded by #groups) and
    ``hits(sketch, rows)`` answers the group's rows vectorized.  Rows
    are grouped as sketch builds group them (``agg._split_groups``).
    Rows whose group has no state, or with a NULL key, get False."""
    memo: dict[tuple, BloomSketch | None] = {}
    keys = [f"k{i}" for i in range(n_keys)]

    def sketch(key: tuple) -> BloomSketch | None:
        if key not in memo:
            payload = bcast.value.get(key)
            memo[key] = unpack_state(BloomSketch, payload) if payload is not None else None
        return memo[key]

    @F.arrow_udf("boolean")
    def member(*cols: pa.Array) -> pa.Array:
        n = len(cols[-1])
        out = np.zeros(n, dtype=bool)
        batch = pa.RecordBatch.from_arrays(
            [*cols, pa.array(np.arange(n))], names=[*keys, "probe", "row"]
        )
        valid = np.ones(n, dtype=bool)
        for c in cols[:n_keys]:
            valid &= c.is_valid().to_numpy(zero_copy_only=False)
        if not valid.all():  # a NULL key names no group: its row stays False
            batch = batch.filter(pa.array(valid))
        for key, part in _split_groups(batch, keys):
            bf = sketch(key)
            if bf is not None:
                out[part.column("row").to_numpy()] = hits(bf, part.column("probe"))
        return pa.array(out)

    return member


def probe_sketch_table(
    probe_df: DataFrame,
    sketch_table: DataFrame,
    group_cols: list[str],
    marker_col: str | None = None,
    token_col: str | None = None,
    ngram: int = 3,
    result_col: str = "found",
) -> DataFrame:
    """Evaluate probe rows against their group's sketch with zero
    sketch bytes in the probe plan: the bounded per-group state dict is
    collected once and broadcast; the UDF keys into it by the row's
    group columns (``[]`` probes every row against the table's single
    ungrouped state).  Probes whose group has no sketch get False
    (nothing was inserted for that group).  Bad arguments raise
    ``ValueError`` before any Spark job."""
    from .cacheutil import register

    if marker_col is not None:
        hits, col = _marker_hits, marker_col
        check_input_col(probe_df, col)
    elif token_col is not None:
        hits, col = _ngram_hits(ngram), token_col
        check_input_col(probe_df, col, "array<int>")
    else:
        raise ValueError("need marker_col or token_col")
    for c in group_cols:
        check_input_col(probe_df, c)
        check_input_col(sketch_table, c)
    states = collect_sketch_states(sketch_table, group_cols)
    # registered so the session owner's release_all() drops executor
    # copies between queries (re-execution re-fetches from the driver)
    bcast = register(probe_df.sparkSession.sparkContext.broadcast(states))
    keys = [qcol(c).cast("string") for c in group_cols]  # match state keys
    udf = make_keyed_membership_udf(bcast, len(group_cols), hits)
    return probe_df.withColumn(result_col, udf(*keys, qcol(col)))
