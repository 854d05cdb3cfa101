"""Spark aggregation layer: two-phase mergeable-sketch builds.

The reference is single-process: one writer updates one filter in
shared memory (/root/reference/markercache.cpp:197-201).  At cluster
scale the same computation becomes a classic partial+final aggregation,
which Catalyst does NOT auto-split for Python UDAFs — so the two-phase
shape is explicit here:

  1. **Partial build** (``build_partials_arrow``): ``mapInArrow`` over
     the input — each task streams its partition's Arrow RecordBatches
     through a vectorized update kernel, accumulating one sketch per
     group key *per partition* (a hand-rolled map-side combine).  Raw
     rows are never shuffled; only the small serialized sketch states
     are.
  2. **Merge** (``merge_partials``): groupBy(group) + ``applyInArrow``
     combining states with the sketch's associative merge.

``sketch_agg`` composes the two for a per-group ``factory`` and an
``update(sketch, batch_slice)`` kernel: each batch is split by the
group columns with one stable sort, one ``take`` and zero-copy slices.

``collect_agg`` is the driver-fold path for results that end on the
driver anyway (the cache ring's buckets, a broadcast Bloom): the
partial build runs over ``coalesce(defaultParallelism)`` and the
partials are OR-folded by :func:`collect_sketches` — one stage, no
merge shuffle, at most ``defaultParallelism`` partials per group.  Only
order-free merges belong there (Bloom, HLL, CMS); order-sensitive
states (KLL, t-digest, Misra-Gries) keep ``sketch_agg``'s merge.

Skew note: because partials are keyed per-partition *inside* the map
task, a hot group key (zipf ``source``) costs nothing extra at build
time — the shuffle moves one sketch row per (partition, group), not the
raw rows.  Where a hot group's state must be split across tasks,
``salted_repartition`` spreads its rows deterministically (no rand()).
"""

from __future__ import annotations

import heapq
import json
import zlib
from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernels import arrow_str_codes

SKETCH_COL = "sketch"
# Sentinel group for null keys.  Caveat: a REAL group value literally
# equal to "__null__" would merge with null-keyed rows — if your data
# uses this placeholder, rename the sentinel before building.
NULL_KEY = "__null__"
_ZMAGIC = b"MSKZ"
_RMAGIC = b"MSKR"  # uncompressed payload (dense state; zlib would not pay)


def pack_state(sk: Any) -> bytes:
    """Serialize (+ compress when it pays) a sketch state for the wire.

    Sparse partial Bloom bitmaps compress 3-100x at zlib level 1 and
    the wire bytes dominate, so compression is the default.  A MERGED
    hot-group bitmap, however, sits at 30-50% bit density — near
    max entropy — where zlib level 1 still burns ~3-4 s per 140 MB to
    save nothing (measured: the final pack was the single largest
    piece of the hot-group merge task).  A 1 MB probe decides: if even
    the probe barely shrinks, the state ships raw under its own magic.
    """
    raw = sk.to_bytes()
    if len(raw) >= (1 << 20):
        probe = zlib.compress(raw[: 1 << 20], 1)
        # compression must pay ~1.7x to beat its own cost: zlib level 1
        # on a ~40%-density merged bitmap reached only 1.27x and cost
        # 4.8 s per 140 MB (measured), slower than shipping raw
        if len(probe) > 0.6 * (1 << 20):
            return _RMAGIC + raw
    return _ZMAGIC + zlib.compress(raw, 1)


def unpack_state(sketch_cls: type, buf: bytes) -> Any:
    head = bytes(buf[:4])
    if head == _ZMAGIC:
        buf = zlib.decompress(bytes(buf[4:]))
    elif head == _RMAGIC:
        buf = bytes(buf[4:])
    return sketch_cls.from_bytes(buf)


def state_prefix(buf, n: int) -> bytes:
    """The first ``n`` bytes of a packed state's serialization: a slice
    of a raw state, and only as much zlib output as that of a
    compressed one (the rest is never inflated)."""
    head = bytes(buf[:4])
    if head == _ZMAGIC:
        return zlib.decompressobj().decompress(buf[4:], n)
    return bytes(buf[4 : 4 + n] if head == _RMAGIC else buf[:n])


def merge_partials(
    partials: DataFrame,
    sketch_cls: type,
    group_cols: list[str] | None = None,
    finalize: Callable[[Any], dict] | None = None,
    finalize_schema: str | None = None,
) -> DataFrame:
    """Final merge: groupBy(group) associative combine of sketch states.

    Runs as ``applyInArrow`` — sketch payloads stay Arrow buffers end
    to end instead of being copied into pandas object cells (states can
    be tens of MB; the per-byte path is the cost here, not the OR).

    ``finalize`` (with ``finalize_schema``, e.g. ``"n long, err double"``)
    makes the final merge task emit metadata columns computed from the
    merged sketch INSTEAD of the state bytes — the merged state never
    leaves the executor, so metadata-style queries move O(#groups) rows
    of scalars, not O(corpus) sketch bytes, through the Python<->JVM
    path or to the driver.  Declare numeric columns as long/double (and
    string/boolean) so pyarrow's inference matches the declared schema.
    """
    import pyarrow as pa

    group_cols = list(group_cols or [])

    def _merge_acc(table: "pa.Table"):
        # zlib decompression releases the GIL, and for a hot group the
        # serial decompress of N multi-MB partials dominates the merge
        # task (measured: ~2 GB of raw bitmap behind one group at the
        # 1M-doc build).  A bounded thread pool keeps a few unpacks in
        # flight ahead of the (associative, left-to-right) merge fold;
        # the window bounds peak memory to ~window live states.
        col = table.column(SKETCH_COL)
        bufs = [buf for chunk in col.chunks for buf in chunk]
        acc = None
        if len(bufs) <= 2:
            for buf in bufs:
                state = unpack_state(sketch_cls, buf.as_py())
                acc = state if acc is None else acc.merge_in_place(state)
            return acc
        from collections import deque
        from concurrent.futures import ThreadPoolExecutor

        def _fold(acc, fut):
            state = fut.result()
            return state if acc is None else acc.merge_in_place(state)

        with ThreadPoolExecutor(max_workers=6) as ex:
            pending: deque = deque()
            for buf in bufs:
                pending.append(ex.submit(unpack_state, sketch_cls, buf.as_py()))
                if len(pending) > 6:
                    acc = _fold(acc, pending.popleft())
            while pending:
                acc = _fold(acc, pending.popleft())
        return acc

    def _group_arrays(table: "pa.Table"):
        arrays = [pa.array([table.column(c)[0].as_py()], type=pa.string()) for c in group_cols]
        return arrays, list(group_cols)

    def _merge_table(table: "pa.Table") -> "pa.Table":
        table = table.rename_columns(names_in)
        arrays, names = _group_arrays(table)
        if table.num_rows == 1:
            # single partial: the merged state IS the partial, and
            # pack(unpack(x)) == x byte-for-byte (deterministic zlib,
            # exact serde roundtrip — gated in tests) — skip the
            # decompress/recompress entirely.  The bounded-bucket
            # build shape has exactly one partial per group, so this
            # removes the whole zlib pass from its merge stage.
            buf = table.column(SKETCH_COL).combine_chunks()
            arrays.append(pa.array([buf[0].as_py()], type=pa.binary()))
        else:
            acc = _merge_acc(table)
            arrays.append(pa.array([pack_state(acc)], type=pa.binary()))
        names.append(SKETCH_COL)
        return pa.table(dict(zip(names, arrays)))

    def _finalize_table(table: "pa.Table") -> "pa.Table":
        table = table.rename_columns(names_in)
        acc = _merge_acc(table)
        arrays, names = _group_arrays(table)
        for name, value in finalize(acc).items():
            arrays.append(pa.array([value]))
            names.append(name)
        return pa.table(dict(zip(names, arrays)))

    out_fields = [f"`{c}` string" for c in group_cols]
    schema = ", ".join(out_fields + [f"{SKETCH_COL} binary"])

    merge_fn = _merge_table
    if finalize is not None:
        if finalize_schema is None:
            raise ValueError("finalize requires finalize_schema")
        schema = ", ".join(out_fields + [finalize_schema])
        merge_fn = _finalize_table
    # positional names through applyInArrow, as in build_partials_arrow
    names_in = group_cols + [SKETCH_COL]
    pos = [f"_{i}" for i in range(len(names_in))]
    partials = partials.select(*[qcol(c) for c in names_in]).toDF(*pos)
    return partials.groupBy(*pos[:-1]).applyInArrow(merge_fn, schema=schema)


def build_partials_arrow(
    df: DataFrame,
    batch_update: Callable[[dict, Any], None],
    group_cols: list[str] | None = None,
    ckpt_dir: str | None = None,
) -> DataFrame:
    """Arrow-native partial build: ``mapInArrow`` hands whole
    RecordBatches to ``batch_update(states, batch)``, which owns
    grouping + state creation (so it can hash each batch ONCE and
    slice per group, instead of paying an Arrow->pandas conversion
    that materializes one Python object per list-typed row).

    ``states`` maps group tuple -> sketch; emission serializes each
    state with :func:`pack_state`.

    ``ckpt_dir`` enables per-partition checkpoints (north_rule
    resumability): each task writes its result batch as Arrow IPC to
    ``part-<pid>.arrow`` (atomic tmp+rename, so task retries and
    speculative duplicates are safe — the same idempotent
    write-if-absent discipline as the reference's archive,
    /root/reference/markercache.cpp:258-266) plus a lineage/metrics
    JSON (rows, groups, bytes, seconds).  On re-run over the same
    input/plan, completed partitions replay from disk, skipping the
    hash/insert compute entirely.
    """
    import pyarrow as pa

    group_cols = list(group_cols or [])
    out_fields = [f"`{c}` string" for c in group_cols]
    schema = ", ".join(out_fields + [f"{SKETCH_COL} binary"])

    if ckpt_dir:
        import os

        os.makedirs(ckpt_dir, exist_ok=True)

    def _emit(states: dict[tuple, Any]) -> "pa.RecordBatch":
        cols: dict[str, list] = {
            c: [str(k[i]) for k in states] for i, c in enumerate(group_cols)
        }
        cols[SKETCH_COL] = [pack_state(s) for s in states.values()]
        arrays = [pa.array(cols[c], type=pa.string()) for c in group_cols]
        arrays.append(pa.array(cols[SKETCH_COL], type=pa.binary()))
        return pa.RecordBatch.from_arrays(arrays, names=group_cols + [SKETCH_COL])

    def partition_fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        import json
        import os
        import time

        part_path = None
        if ckpt_dir is not None:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId()
            part_path = os.path.join(ckpt_dir, f"part-{pid:05d}.arrow")
            if os.path.exists(part_path):
                with pa.ipc.open_file(part_path) as reader:
                    for i in range(reader.num_record_batches):
                        yield reader.get_batch(i)
                return

        t0 = time.monotonic()
        states: dict[tuple, Any] = {}
        nrows = 0
        for batch in batches:
            if batch.num_rows:
                nrows += batch.num_rows
                batch_update(states, batch.rename_columns(names))
        if not states:
            return
        out = _emit(states)
        if part_path is not None:
            tmp = part_path + f".tmp-{os.getpid()}"
            with pa.ipc.new_file(tmp, out.schema) as writer:
                writer.write_batch(out)
            os.replace(tmp, part_path)
            meta = {
                "partition": int(part_path.rsplit("-", 1)[1].split(".")[0]),
                "rows": nrows,
                "groups": len(states),
                "bytes": sum(len(b) for b in out.column(SKETCH_COL).to_pylist()),
                "secs": round(time.monotonic() - t0, 3),
            }
            mtmp = os.path.join(ckpt_dir, f"metrics-{meta['partition']:05d}.json.tmp-{os.getpid()}")
            with open(mtmp, "w") as f:
                json.dump(meta, f)
            os.replace(mtmp, mtmp.rsplit(".tmp-", 1)[0])
        yield out

    # mapInArrow reads a dot in a name as struct-field access (df[name]):
    # columns go in positionally and get their names back per batch
    names = df.columns
    return df.toDF(*[f"_{i}" for i in range(len(names))]).mapInArrow(partition_fn, schema=schema)


def _salt_placement(shares: dict[str, float], parallelism: int) -> dict[str, list[int]]:
    """Partition ids of each group's salts: ``max(1, round(share *
    parallelism))`` salts (at most ``parallelism``), each a unit of
    ``share / salts`` rows.  Groups go largest unit first, and each
    group's units go to the least-loaded partitions that group does
    not use yet (a heap, O(units * log parallelism)), so one group's
    salts never share a partition and, with shares summing to at most
    1, no partition carries more than ``1/parallelism`` plus its
    largest unit.  Ties break by group name and partition id, so the
    placement is the same on every call."""
    salts = {g: min(parallelism, max(1, round(s * parallelism))) for g, s in shares.items()}
    heap = [(0.0, p) for p in range(parallelism)]
    placement: dict[str, list[int]] = {}
    for g in sorted(shares, key=lambda g: (-shares[g] / salts[g], g)):
        unit = shares[g] / salts[g]
        taken = [heapq.heappop(heap) for _ in range(salts[g])]
        placement[g] = [p for _, p in taken]
        for load, p in taken:
            heapq.heappush(heap, (load + unit, p))
    return placement


def _placed_salts(group_col: str, placement: dict[str, list[int]]):
    """Column: the partition ids of each row's group's salts, NULL for
    a group missing from ``placement``.  A NULL row is the group
    ``NULL_KEY``, as sketch builds group it.  One map literal costs a
    constant number of py4j calls, where a CASE WHEN chain costs ~40
    per group; Catalyst folds the ``from_json`` to a map constant."""
    placed = F.from_json(F.lit(json.dumps(placement)), "map<string,array<int>>")
    key = F.coalesce(F.col(group_col).cast("string"), F.lit(NULL_KEY))
    return F.element_at(placed, key)


def salted_repartition(
    df: DataFrame, group_col: str, shares: dict[str, float], parallelism: int
) -> DataFrame:
    """Repartition rows into ``parallelism`` partitions by (group,
    per-group salt), with salt counts proportional to each group's row
    share — a zipf-hot group gets ~share*parallelism salts, tail groups
    1 — and every salt placed on a partition by
    :func:`_salt_placement` rather than hashed, so no task sees more
    than ~1/parallelism of the rows plus one salt's worth.  Total
    partial states stay ~ parallelism + #groups.  A row's salt is its
    ``monotonically_increasing_id`` modulo its group's salt count; a
    group missing from ``shares`` goes to ``pmod(xxhash64(group),
    parallelism)``."""
    salts = _placed_salts(group_col, _salt_placement(shares, parallelism))
    unknown = F.pmod(
        F.xxhash64(F.coalesce(F.col(group_col).cast("string"), F.lit(NULL_KEY))),
        F.lit(parallelism),
    )
    pid = F.when(salts.isNull(), unknown).otherwise(
        salts[(F.monotonically_increasing_id() % F.size(salts)).cast("int")]
    )
    return df.repartitionById(parallelism, pid.cast("int"))


def _split_groups(batch, group_cols: list[str]) -> Iterator[tuple[tuple, Any]]:
    """(key tuple, RecordBatch slice) per distinct group of ``batch``;
    null keys map to ``NULL_KEY`` (via ``arrow_str_codes``).  The sort
    is stable, so every group keeps its rows in input order — what
    keeps order-sensitive states (KLL, t-digest, Misra-Gries)
    identical however a partition's rows interleave groups.  One
    ``take`` reorders the batch; the per-group slices are zero-copy."""
    if not group_cols:
        yield (), batch
        return
    if not batch.num_rows:
        return
    import pyarrow as pa

    coded = [arrow_str_codes(batch, c) for c in group_cols]
    codes = np.stack([c for c, _ in coded])
    order = np.lexsort(codes)
    codes = codes[:, order]
    starts = np.flatnonzero(
        np.concatenate(([True], (codes[:, 1:] != codes[:, :-1]).any(axis=0)))
    )
    if len(starts) > 1:
        batch = batch.take(pa.array(order))
    ends = np.append(starts[1:], batch.num_rows)
    for lo, hi in zip(starts.tolist(), ends.tolist()):
        key = tuple(u[i] for (_, u), i in zip(coded, codes[:, lo].tolist()))
        yield key, batch.slice(lo, hi - lo)


def _grouped_update(
    factory: Callable[[tuple], Any], update: Callable[[Any, Any], None], group_cols: list[str]
) -> Callable[[dict, Any], None]:
    """``batch_update(states, batch)`` for :func:`build_partials_arrow`:
    split the batch by ``group_cols``, create a missing group's sketch
    with ``factory(key)`` and fold the group's slice in with
    ``update``."""

    def batch_update(states: dict, batch) -> None:
        for key, part in _split_groups(batch, group_cols):
            sk = states.get(key)
            if sk is None:
                sk = states[key] = factory(key)
            update(sk, part)

    return batch_update


def _check_group_cols(df: DataFrame, group_cols: list[str] | None) -> list[str]:
    group_cols = list(group_cols or [])
    missing = [c for c in group_cols if c not in df.columns]
    if missing:
        raise ValueError(f"group_cols not in DataFrame: {missing}")
    return group_cols


def qcol(name: str):
    """``F.col`` of the column named ``name``: a dot in the name is part
    of it, not struct-field access."""
    return F.col("`" + name.replace("`", "``") + "`")


def check_input_col(df: DataFrame, col: str, kind: str | None = None) -> None:
    """Raise ``ValueError`` on the driver, before any Spark job, unless
    ``df`` has column ``col`` of type ``kind``: ``"numeric"``,
    ``"integral"``, ``"array<int>"`` or ``None`` (any type)."""
    if col not in df.columns:
        raise ValueError(f"column {col!r} not in DataFrame: {df.columns}")
    t = df.schema[col].dataType
    ok = {
        None: True,
        "numeric": isinstance(t, T.NumericType),
        "integral": isinstance(t, T.IntegralType),
        "array<int>": isinstance(t, T.ArrayType) and isinstance(t.elementType, T.IntegerType),
    }[kind]
    if not ok:
        raise ValueError(f"column {col!r} must be {kind}, got {t.simpleString()}")


def sketch_agg(
    df: DataFrame,
    factory: Callable[[tuple], Any],
    update: Callable[[Any, Any], None],
    sketch_cls: type,
    group_cols: list[str] | None = None,
    finalize: Callable[[Any], dict] | None = None,
    finalize_schema: str | None = None,
) -> DataFrame:
    """Partial build + merge in one call → DataFrame (group..., sketch),
    or (group..., finalize columns) when ``finalize`` is given.

    ``factory(key)`` creates the empty sketch for a group-key tuple
    (``()`` without ``group_cols``; a group-aware factory can size the
    state per group).  ``update(sk, batch)`` folds a ``pa.RecordBatch``
    holding only that group's rows into the sketch.
    """
    group_cols = _check_group_cols(df, group_cols)
    partials = build_partials_arrow(df, _grouped_update(factory, update, group_cols), group_cols)
    return merge_partials(
        partials, sketch_cls, group_cols, finalize=finalize, finalize_schema=finalize_schema,
    )


def collect_agg(
    df: DataFrame,
    factory: Callable[[tuple], Any],
    update: Callable[[Any, Any], None],
    sketch_cls: type,
    group_cols: list[str] | None = None,
) -> dict[tuple, Any]:
    """:func:`sketch_agg`'s partial build, folded on the driver →
    ``{group tuple: sketch}`` (``()`` keys the whole input without
    ``group_cols``).

    One Spark stage: the input is coalesced to ``defaultParallelism``
    tasks (no shuffle), each emits one packed partial per group it saw,
    and :func:`collect_sketches` merges duplicate keys on the driver in
    collect order, so at most ``defaultParallelism`` partials per group
    reach the driver.  Use it only where the merge does not depend on
    fold order (Bloom OR, HLL max, CMS add)."""
    group_cols = _check_group_cols(df, group_cols)
    width = df.sparkSession.sparkContext.defaultParallelism
    partials = build_partials_arrow(
        df.coalesce(width), _grouped_update(factory, update, group_cols), group_cols
    )
    return collect_sketches(partials, sketch_cls, group_cols)


def collect_sketch(df: DataFrame, sketch_cls: type):
    """Driver-side: collect a single-group sketch result (``None`` when
    ``df`` is empty)."""
    return collect_sketches(df, sketch_cls, []).get(())


def collect_sketches(df: DataFrame, sketch_cls: type, group_cols: list[str]) -> dict[tuple, Any]:
    """Driver-side: collect grouped sketches keyed by group tuple."""
    out: dict[tuple, Any] = {}
    for r in df.collect():
        key = tuple(r[c] for c in group_cols)
        sk = unpack_state(sketch_cls, r[SKETCH_COL])
        if key in out:
            out[key].merge_in_place(sk)
        else:
            out[key] = sk
    return out
