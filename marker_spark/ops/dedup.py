"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

Scale shapes (the part that must survive 100 TB):
 * exact dedup — hash-groupBy on a digest of the text, never on the
   raw text (shuffle moves 8-byte keys, not documents);
 * MinHash — signatures built in one Arrow pass (numpy, no per-row
   Python); LSH banding turns all-pairs into an equi-join on
   (band_id, band_hash), i.e. a shuffle keyed by small ints;
 * candidate verification — exact Jaccard only on LSH candidates;
 * SimHash — 64-bit fingerprint, near-dup via banded Hamming join;
 * embedding near-dup — one grouped-numpy pair kernel per block
   (label, LSH bucket or SemDeDup cell): the block key bounds the
   quadratic term, fixed-size tiles bound the memory.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import words_col
from ..cacheutil import register
from ..kernels import arrow_list_view
from ..obs import spread_thin


def _perm_keys(num_perm: int, seed: int = 42) -> np.ndarray:
    """One independent 64-bit key per MinHash permutation."""
    rng = np.random.default_rng(seed)
    return rng.integers(0, 1 << 64, size=num_perm, dtype=np.uint64)


def _mix64(x: np.ndarray, key: np.uint64) -> np.ndarray:
    """splitmix64 finalizer keyed by xor — a bijection on 2^64, so each
    key yields a distinct pseudo-random permutation of the hash space.

    Chosen over the textbook (a*h+b) mod (2^61-1) family: in vectorized
    uint64 the product wraps mod 2^64 before the Mersenne mod (breaking
    the mod-p analysis anyway), and np.mod on uint64 is an integer
    division — the mixer is both honest and ~3x faster.
    """
    z = x ^ key
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _word_hash_col(text_col: str):
    """array<bigint>: xxhash64 per whitespace word — ONE flat JVM pass
    (split once, hash each element).  Shingle windows are then formed
    numerically in the UDF.  Building shingle *strings* JVM-side
    (transform + slice + concat_ws per window) was measured ~12x slower
    through ArrowEvalPython: the interpreted per-element lambda
    re-evaluates the outer split per window, and nothing there is
    whole-stage-codegen'd."""
    words = words_col(F.coalesce(F.col(text_col), F.lit("")))
    return F.transform(words, lambda w: F.xxhash64(w))


def _map_shingle_batches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle: int,
    kernel,
    out_field: str,
    out_type: str,
) -> DataFrame:
    """Shared mapInArrow scaffolding for shingle-kernel operators
    (MinHash, SimHash): select (id, JVM per-word xxhash64 list), consume
    the list column as flat Arrow buffers, form shingle hashes with the
    fused mmh3 window kernel, and hand ``(shingle_hashes, per-doc
    segment starts, n_docs)`` to ``kernel``, which returns the output
    pyarrow Array.  One place owns the Arrow plumbing so fixes to it
    (null/sliced-array handling) cannot drift between operators."""
    import pyarrow as pa

    id_type = df.schema[id_col].dataType.simpleString()
    # spread BEFORE the per-word xxhash64 projection: on a single-row-
    # group scan both the JVM word-hash pass and the Python shingle
    # kernel would otherwise run on 1-2 tasks (per-doc outputs are
    # batch-independent, so this is result-neutral)
    src = spread_thin(df).select(
        F.col(id_col), _word_hash_col(text_col).alias("__wh")
    )

    def batch_fn(batches):
        for batch in batches:
            n_docs = batch.num_rows
            if n_docs == 0:
                continue
            flat, offsets = arrow_list_view(batch.column(1))
            sh, seg = _shingle_hashes_flat(flat.view(np.uint64), offsets, shingle)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), kernel(sh, seg, n_docs)], names=[id_col, out_field]
            )

    return src.mapInArrow(batch_fn, schema=f"`{id_col}` {id_type}, {out_field} {out_type}")


def _shingle_hashes_flat(
    flat: np.ndarray, offsets: np.ndarray, shingle: int
) -> tuple[np.ndarray, np.ndarray]:
    """Flat uint64 word hashes + 0-based offsets (n_docs+1) ->
    (flat uint64 shingle hashes, per-doc segment starts int64, one
    segment per doc, all non-empty).

    Shingle identity = the window of word hashes, hashed with the fused
    int32-window MurmurHash3 kernel (collision-equivalent to hashing the
    shingle string: xxhash64 per word is injective up to 2^-64 pairwise
    collisions).  Docs with < shingle words contribute one whole-doc
    shingle (mmh3 over all their word-hash bytes; empty docs hash the
    empty string), so every doc has exactly max(n_words-shingle+1, 1)
    values and downstream reduceat segments are never empty.
    """
    from ..hashing import mmh3_ngram_i32, mmh3_offsets
    from ..ngrams import ngram_starts

    n_docs = len(offsets) - 1
    lengths = np.diff(offsets)
    # fold 64 -> 32 bits; window hash = fused mmh3 over int32 windows
    flat32 = (flat ^ (flat >> np.uint64(32))).astype(np.uint32).view(np.int32)
    starts, per_doc = ngram_starts(offsets, shingle)
    h_reg, _ = mmh3_ngram_i32(flat32, starts, shingle)
    counts = np.maximum(per_doc, 1)
    seg = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(counts[:-1], out=seg[1:])
    out = np.empty(int(counts.sum()), dtype=np.uint64)
    if len(starts):
        within = np.arange(len(starts), dtype=np.int64) - np.repeat(
            np.concatenate(([0], np.cumsum(per_doc)[:-1])), per_doc
        )
        out[np.repeat(seg, per_doc) + within] = h_reg
    short = np.where(per_doc == 0)[0]
    if len(short):
        byte_view = flat32.view(np.uint8)
        boff = offsets * 4
        sh_lens = lengths[short] * 4
        sh_offs = np.zeros(len(short) + 1, dtype=np.int64)
        np.cumsum(sh_lens, out=sh_offs[1:])
        src = np.repeat(boff[short], sh_lens) + (
            np.arange(int(sh_offs[-1]), dtype=np.int64) - np.repeat(sh_offs[:-1], sh_lens)
        )
        h_short, _ = mmh3_offsets(byte_view[src], sh_offs)
        out[seg[short]] = h_short
    return out, seg


def exact_dedup_scalable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """100 TB-shape exact dedup: the shuffle carries only a 128-bit
    digest + id, never the document text.

    Phase 1 aggregates (md5(text), xxhash64(text), length(text) -> min
    id, dup_count); phase 2 joins the representative ids back to
    recover full rows.  The join is on the (small) representative set —
    broadcastable when the distinct count fits, hash join otherwise;
    either way text bytes move at most once (with their own row), not
    through a groupBy shuffle.

    The compound digest keeps the operator honestly "exact" under hash
    collisions: real md5 collision pairs exist in scraped web corpora,
    but a pair colliding under md5 AND xxhash64 AND byte length at once
    has no known construction — distinct texts are never merged.
    """
    digest = F.md5(F.col(text_col))
    reps = (
        df.select(
            digest.alias("__digest"),
            F.xxhash64(F.col(text_col)).alias("__digest2"),
            F.length(F.col(text_col)).alias("__len"),
            F.col(id_col),
        )
        .groupBy("__digest", "__digest2", "__len")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .select(id_col, "dup_count")
    )
    return df.join(reps, id_col, "inner")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    num_perm: int = 128,
    shingle: int = 3,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, signature array<bigint>) — MinHash over word shingles.

    The JVM contributes one xxhash64 per word (:func:`_word_hash_col`);
    ``mapInArrow`` consumes the list column as flat Arrow buffers
    (:func:`kernels.arrow_list_view` — no per-row Python list materialization),
    forms shingle hashes with the fused mmh3 window kernel
    (:func:`_shingle_hashes_flat`), applies each keyed :func:`_mix64`
    permutation over the flat buffer, min-reduces per-doc segments with
    np.minimum.reduceat, and ships the signature matrix back as ONE
    Arrow ListArray — zero per-row Python end to end.
    """
    import pyarrow as pa

    keys = _perm_keys(num_perm, seed)

    def kernel(sh: np.ndarray, seg: np.ndarray, n_docs: int):
        sigs = np.empty((n_docs, num_perm), dtype=np.int64)
        for j in range(num_perm):
            hv = _mix64(sh, keys[j])
            sigs[:, j] = np.minimum.reduceat(hv, seg).view(np.int64)
        return pa.ListArray.from_arrays(
            pa.array(np.arange(n_docs + 1, dtype=np.int32) * num_perm, type=pa.int32()),
            pa.array(sigs.reshape(-1), type=pa.int64()),
        )

    return _map_shingle_batches(
        df, text_col, id_col, shingle, kernel, "signature", "array<long>"
    )


def ngram_jaccard_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
) -> DataFrame:
    """Exact shingle-Jaccard for GIVEN candidate pairs — cost
    O(|pairs| * doc_len), never a shingle self-join.

    :func:`ngram_jaccard_pairs` self-joins on shared shingles, which is
    the right shape for discovering pairs but re-creates the quadratic
    hot-shingle blow-up if fed a candidate-doc set where most docs share
    boilerplate.  Verification after LSH should be bounded by the
    candidate PAIR count (which max_bucket caps), so here each pair row
    joins its two word-hash arrays and computes the Jaccard of their
    shingle-hash sets directly (collision-equivalent to string shingles,
    same note as :func:`_shingle_hashes_flat`).

    Returns (id_a, id_b, jaccard).
    """
    import pyarrow as pyarrow_mod

    wh = df.select(F.col(id_col), _word_hash_col(text_col).alias("__wh"))
    joined = (
        pairs.select("id_a", "id_b")
        .join(
            wh.select(F.col(id_col).alias("id_a"), F.col("__wh").alias("wh_a")), "id_a"
        )
        .join(
            wh.select(F.col(id_col).alias("id_b"), F.col("__wh").alias("wh_b")), "id_b"
        )
        # pin positions: each equi-join hoists its key column to the
        # front, and the Arrow kernel below reads by position
        .select("id_a", "id_b", "wh_a", "wh_b")
    )
    # output columns 0/1 come from the PAIRS side of the join — declare
    # their actual types, not df's (a caller may carry ids at a wider
    # integer type than the corpus id column)
    id_type = pairs.schema["id_a"].dataType.simpleString()
    id_type_b = pairs.schema["id_b"].dataType.simpleString()

    def batch_fn(batches):
        # mapInArrow over flat buffers (like _map_shingle_batches): the
        # earlier pandas-UDF entry materialized one Python list per row
        # for both word-hash columns — the last such path in the dedup
        # family.  The kernel itself is unchanged: one lexsort over the
        # batch's concatenated (pair_id, shingle) instead of per-pair
        # np.unique/intersect1d.
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            fa_flat, offa = arrow_list_view(batch.column(2))
            fb_flat, offb = arrow_list_view(batch.column(3))
            fa, sa = _shingle_hashes_flat(fa_flat.view(np.uint64), offa, shingle)
            fb, sb = _shingle_hashes_flat(fb_flat.view(np.uint64), offb, shingle)
            pa = np.repeat(np.arange(n), np.diff(np.append(sa, len(fa))))
            pb = np.repeat(np.arange(n), np.diff(np.append(sb, len(fb))))

            def _dedup(p: np.ndarray, h: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
                if len(p) == 0:
                    return p, h
                order = np.lexsort((h, p))
                p, h = p[order], h[order]
                mask = np.empty(len(p), dtype=bool)
                mask[0] = True
                mask[1:] = (p[1:] != p[:-1]) | (h[1:] != h[:-1])
                return p[mask], h[mask]

            pa, ha = _dedup(pa, fa)
            pb, hb = _dedup(pb, fb)
            na = np.bincount(pa, minlength=n)
            nb = np.bincount(pb, minlength=n)
            pc = np.concatenate([pa, pb])
            hc = np.concatenate([ha, hb])
            inter = np.zeros(n, dtype=np.int64)
            if len(pc):
                order = np.lexsort((hc, pc))
                pc, hc = pc[order], hc[order]
                # within-side arrays are deduped, so an adjacent (pair,
                # hash) match is exactly one element from each side
                eq = (pc[1:] == pc[:-1]) & (hc[1:] == hc[:-1])
                inter = np.bincount(pc[:-1][eq], minlength=n)
            union = np.maximum(na + nb - inter, 1)
            yield pyarrow_mod.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    batch.column(1),
                    pyarrow_mod.array(inter / union, type=pyarrow_mod.float64()),
                ],
                names=["id_a", "id_b", "jaccard"],
            )

    out = joined.mapInArrow(
        batch_fn, schema=f"id_a {id_type}, id_b {id_type_b}, jaccard double"
    )
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


def lsh_band_table(
    sig_df: DataFrame, id_col: str = "doc_id", bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """(id_col, band_id, band_hash) — the banded form of a signature
    table.  One row per (doc, band); band hash = xxhash64 of the band's
    signature slice.  This IS the persisted dedup-index schema: written
    once per corpus, appended per increment (:func:`incremental_lsh_pairs`).
    """
    band_idx = F.sequence(F.lit(0), F.lit(bands - 1))
    return sig_df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                band_idx,
                lambda b: F.struct(
                    b.alias("band_id"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def incremental_pairs_from_bands(
    index: DataFrame,
    new_bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    broadcast_new: bool = False,
    frozen: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs for an INCREMENT against a persisted
    band index — the daily-crawl shape at 100 TB: the corpus index
    (built once by :func:`lsh_band_table`, appended each batch) is
    never self-joined again; only pairs touching a NEW doc are
    produced, so each increment costs O(new x bucket) instead of
    re-running the O(corpus^2 / buckets) discovery.

    ``index`` and ``new_bands`` are both (id_col, band_id, band_hash);
    ids must be globally unique across the two.  Returns (id_a, id_b)
    with id_a < id_b, distinct across bands — exactly the pairs
    :func:`lsh_candidate_pairs` over (old + new) emits MINUS the pairs
    it emits over old alone (property-pinned in
    tests/test_incremental_dedup.py).

    ``max_bucket`` caps buckets by their JOINT size (index rows in the
    bucket + new rows in the bucket) — the same degenerate-bucket
    semantics as the batch path over the full corpus, so
    incremental-with-cap == batch-with-cap restricted to new-involving
    pairs.  The index-side size is computed only for buckets the
    increment touches (left-semi against the new bucket keys first):
    the full index is scanned but the groupBy state is bounded by the
    increment's bucket count, and the count aggregates map-side.

    ``broadcast_new``: hint the (small) increment side into a
    broadcast-hash join so the index never shuffles — right for small
    daily batches; leave False for large increments and let AQE pick
    (the index side still only moves keyed by small int band keys).

    ``frozen``: the (band_id, band_hash, frozen_sz) tombstone table a
    :func:`compact_band_index` pass emitted when it reclaimed over-cap
    buckets' rows.  Those sizes fold into the joint cap check so a
    reclaimed bucket stays capped exactly as if its rows were still
    present — required for the compaction-equivalence contract; only
    meaningful with ``max_bucket`` (ValueError otherwise, because
    without a cap the reclaimed rows would have produced pairs).
    """
    keys = ["band_id", "band_hash"]
    if frozen is not None and max_bucket is None:
        raise ValueError(
            "a frozen-buckets table only arises from compaction under a "
            "cap; passing it without max_bucket would silently lose pairs"
        )
    nb = new_bands
    if nb.storageLevel.useMemory or nb.storageLevel.useDisk:
        pass  # already persisted by the caller (incremental_lsh_pairs)
    else:
        # nb feeds THREE consumers (the cross-join leg + both sides of
        # the within-increment self-join); unpersisted, each would
        # re-run the signature/banding subtree — persist for direct
        # callers too, not just the public wrapper (r9 verdict #7)
        nb = register(nb.persist())
    if max_bucket is not None:
        touched = nb.select(*keys).distinct()
        idx_sz = (
            index.join(F.broadcast(touched), keys, "left_semi")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("idx_sz"))
        )
        new_sz = nb.groupBy(*keys).agg(F.count(F.lit(1)).alias("new_sz"))
        sized = new_sz.join(idx_sz, keys, "left")
        frozen_term = F.lit(0)
        if frozen is not None:
            # frozen is O(degenerate buckets) — broadcast; its sizes
            # stand in for the reclaimed rows in the joint check
            sized = sized.join(
                F.broadcast(frozen.select(*keys, "frozen_sz")), keys, "left"
            )
            frozen_term = F.coalesce(F.col("frozen_sz"), F.lit(0))
        ok = (
            sized.where(
                F.coalesce(F.col("idx_sz"), F.lit(0))
                + frozen_term
                + F.col("new_sz")
                <= F.lit(max_bucket)
            )
            .select(*keys)
        )
        # bucket-key table is O(increment buckets) — broadcast both legs
        nb = nb.join(F.broadcast(ok), keys, "left_semi").persist()
        register(nb)
        # eager on purpose (r10 verdict item 7, measured r11): the
        # capped band table feeds THREE consumers (cross leg + both
        # self-join sides) whose stages can run concurrently — the
        # count populates the cache once before the fan-out, so
        # parallel stages can't race to compute the UDF-derived
        # subtree twice.  Deferring it measured no win (interleaved
        # A/B at sf0.1: 3.34 vs 3.44 s mean-of-3, inside the noise
        # band), so the deterministic materialization point stays.
        nb.count()
    new_side = F.broadcast(nb) if broadcast_new else nb
    cross = (
        index.alias("i")
        .join(new_side.alias("n"), keys)
        .where(F.col(f"i.{id_col}") != F.col(f"n.{id_col}"))
        .select(
            F.least(F.col(f"i.{id_col}"), F.col(f"n.{id_col}")).alias("id_a"),
            F.greatest(F.col(f"i.{id_col}"), F.col(f"n.{id_col}")).alias("id_b"),
        )
    )
    within = (
        nb.alias("a")
        .join(nb.alias("b"), keys)
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
    )
    return cross.unionByName(within).distinct()


def incremental_lsh_pairs(
    index: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 32,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
    broadcast_new: bool = False,
    frozen: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental MinHash-LSH dedup: band the increment's signatures,
    emit candidate pairs vs the persisted ``index``
    (:func:`incremental_pairs_from_bands`), and return the increment's
    band table so the caller can append it to the index (the index
    after the call is ``index UNION new_bands`` — next increment joins
    against both).  Returns ``(pairs, new_bands)``; ``new_bands`` is
    persisted (both the pair join legs and the index append consume it).
    ``frozen`` forwards a compaction pass's tombstone table
    (:func:`compact_band_index`).
    """
    new_bands = lsh_band_table(new_sigs, id_col, bands, rows_per_band).persist()
    register(new_bands)
    pairs = incremental_pairs_from_bands(
        index, new_bands, id_col, max_bucket=max_bucket,
        broadcast_new=broadcast_new, frozen=frozen,
    )
    return pairs, new_bands


def _bloom_over_ids(
    ids_df: DataFrame, id_col: str, capacity: int, fp: float
) -> bytes:
    """One packed Bloom over a thin long-id table, ids hashed as their
    8 little-endian bytes.  Built by ``agg.collect_agg``: partials over
    at most defaultParallelism coalesced tasks, OR-folded on the
    driver — so however many shuffle partitions ``ids_df`` carries, the
    driver receives at most defaultParallelism m-sized partials.
    Callers pass a BOUNDED, non-empty id list (the compaction
    drop-list), never a corpus-sized table."""
    from ..agg import collect_agg, pack_state
    from ..params import BloomParams
    from ..sketches.bloom import BloomSketch

    params = BloomParams.solve(max(capacity, 1), fp)

    def update(bf: BloomSketch, batch) -> None:
        arr = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
        bf.insert_fixed_width(arr.view(np.uint8).reshape(-1, 8))

    built = collect_agg(
        ids_df.select(F.col(id_col).cast("long").alias(id_col)),
        lambda _key: BloomSketch(params.m, params.k), update, BloomSketch,
    )
    return pack_state(built[()])


# explicit-broadcast bound for the per-shard index id set in the
# prefilter retention path: 4M longs hash to ~50 MB per executor —
# comfortably under default executor memory, far above the 10 MB
# auto threshold that would otherwise push the corpus-sized keep
# list through a shuffle
_IDX_BROADCAST_IDS = 4_000_000


def _retention_via_drop_prefilter(
    index: DataFrame, keep_ids: DataFrame, id_col: str, fp: float
) -> DataFrame:
    """Exact retention (== ``index`` left-semi ``keep_ids``) whose
    exchange is O(dropped rows), not O(index rows): compute the
    DROP-list (distinct index ids minus ``keep_ids`` — thin 8-byte
    columns through the only corpus-wide exchange), Bloom it, and split
    the index map-side.  Bloom-negative rows are definitely kept (a
    Bloom has no false negatives) and never shuffle; only the positives
    (true drops + the fp share of kept rows) go through the exact
    anti-join that rescues false positives.  With a bounded drop-list
    AQE turns that anti-join into a broadcast, so no index row crosses
    an exchange at all."""
    from ..agg import unpack_state
    from ..sketches.bloom import BloomSketch

    # as in the plain semi-join, a NULL id is never retained
    index = index.where(F.col(id_col).isNotNull())
    # drop = index ids - keep.  Semi/anti joins ignore right-side
    # multiplicity, so keep is never distinct'd (that alone is a full
    # shuffle of the corpus-sized retention list); while the per-shard
    # index id set fits an explicit broadcast, keep is map-side
    # semi-filtered against it and NEVER crosses an exchange — the
    # anti-join's both sides are then O(index docs) thin columns
    idx_ids = register(index.select(F.col(id_col)).distinct().persist())
    if idx_ids.count() <= _IDX_BROADCAST_IDS:
        keep_in_idx = keep_ids.join(F.broadcast(idx_ids), id_col, "left_semi")
        drop_ids = register(
            idx_ids.join(keep_in_idx, id_col, "left_anti").persist()
        )
    else:
        # huge-shard fallback: one thin-column SMJ (ids only, never
        # full index rows)
        drop_ids = register(
            idx_ids.join(keep_ids, id_col, "left_anti").persist()
        )
    n_drop = drop_ids.count()
    if n_drop == 0:
        return index
    packed = _bloom_over_ids(drop_ids, id_col, n_drop, fp)
    bcast = register(index.sparkSession.sparkContext.broadcast(packed))
    memo: dict = {}

    @F.arrow_udf("boolean")
    def maybe_dropped(ids: pa.Array) -> pa.Array:
        bf = memo.get("bf")
        if bf is None:
            bf = memo["bf"] = unpack_state(BloomSketch, bcast.value)
        # NULL ids were filtered above; ids hash as 8 LE bytes
        arr = np.ascontiguousarray(ids.cast(pa.int64()).to_numpy(), dtype="<i8")
        return pa.array(bf.contains_fixed_width(arr.view(np.uint8).reshape(-1, 8)))

    pos = index.where(maybe_dropped(F.col(id_col)))
    neg = index.where(~maybe_dropped(F.col(id_col)))
    return neg.unionByName(pos.join(drop_ids, id_col, "left_anti"))


def compact_band_index(
    index: DataFrame,
    keep: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    prefilter_fp: float | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """Retention + compaction for the persisted dedup band index — the
    index analogue of the reference cache's ``maybe_age``
    (/root/reference/markercache.cpp:203-242): without it a multi-year
    daily-crawl index grows monotonically, keeping bands for docs long
    since dropped by :func:`canonical_selection` or corpus retention.

    Two reclaims in one pass over the index:

    1. **Retention**: keep only rows whose ``id_col`` appears in
       ``keep`` (a left-semi join — at scale, run as a periodic
       maintenance job that rewrites the index store).
    2. **Degenerate-bucket reclaim** (only with ``max_bucket``): a
       bucket whose RETAINED size already exceeds the cap can never
       emit pairs again (the joint check adds ``new_sz >= 1``), so its
       rows are dead weight — but deleting them naively would RESET the
       bucket's size and un-cap it for future increments.  The rows are
       replaced by one tombstone per bucket, ``(band_id, band_hash,
       frozen_sz)``, which :func:`incremental_pairs_from_bands` folds
       back into the joint cap check.  Sizes are computed AFTER
       retention, so a bucket that fell below the cap because its docs
       were dropped keeps its rows and emits pairs again — exactly what
       a fresh index built from the retained docs would do.

    Returns ``(compacted, frozen)``; ``frozen`` is ``None`` when
    ``max_bucket`` is ``None``, else a bounded O(degenerate buckets)
    table the caller persists alongside the index (merge with any
    previous frozen table by summing ``frozen_sz`` per bucket).

    The load-bearing contract (tests/test_incremental_dedup.py):
    incremental pairs against ``(compacted, frozen)`` == incremental
    pairs against the logically equivalent fresh index (``index``
    semi-joined to ``keep``, uncompacted) for every increment.

    ``prefilter_fp`` (opt-in, r10 verdict item 4): past the broadcast
    threshold the plain retention semi-join shuffles the WHOLE index on
    ``id_col`` (measured 963 MB at 64M rows).  With an fp in (0, 1) the
    retention runs via :func:`_retention_via_drop_prefilter` instead —
    identical output (fp only moves rows onto the exact rescue join),
    exchange O(dropped + thin id columns).  The right mode for the
    production maintenance pass, where a daily retention drops a small
    fraction of a multi-year index; default ``None`` keeps the plain
    join (optimal when ``keep`` broadcasts).
    """
    if prefilter_fp is not None and not 0 < prefilter_fp < 1:
        raise ValueError(f"prefilter_fp must be in (0, 1), got {prefilter_fp!r}")
    keys = ["band_id", "band_hash"]
    if prefilter_fp is not None:
        # no .distinct() on keep: the prefilter path only semi/anti
        # joins against it (right-side multiplicity is ignored), and
        # the distinct alone is a full shuffle of the retention list
        retained = _retention_via_drop_prefilter(
            index, keep.select(F.col(id_col)), id_col, prefilter_fp
        )
    else:
        retained = index.join(
            keep.select(F.col(id_col)).distinct(), id_col, "left_semi"
        )
    if max_bucket is None:
        return retained, None
    retained = register(retained.persist())
    sizes = retained.groupBy(*keys).agg(F.count(F.lit(1)).alias("frozen_sz"))
    frozen = register(sizes.where(F.col("frozen_sz") > max_bucket).persist())
    compacted = retained.join(
        F.broadcast(frozen.select(*keys)), keys, "left_anti"
    )
    return compacted, frozen


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str = "doc_id", bands: int = 32, rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band hash become candidate pairs.

    Explode to (band_id, band_hash, id) rows, then a self-equi-join on
    the band key — the all-pairs problem becomes a keyed shuffle whose
    fan-out is bounded by bucket sizes, not corpus size.

    The banded table is persisted before the self-join: both join sides
    reference it, and without materialization Spark would re-run the
    signature UDF (the expensive stage) once per side.  At corpus scale
    the same role is played by writing signatures to a table first.

    ``max_bucket`` drops band buckets holding more than that many docs
    before the join — the degenerate-bucket cap: a bucket of size s
    emits s^2/2 pairs on one shuffle key, so one pathological bucket
    (empty docs, boilerplate) can dominate the whole job at corpus
    scale.  Documented recall tradeoff: pairs ONLY co-occurring in
    capped buckets are lost; with 32 bands a true near-dup pair almost
    surely also collides in an uncapped band.
    """
    banded = lsh_band_table(sig_df, id_col, bands, rows_per_band).persist()
    if max_bucket is not None:
        small = (
            banded.groupBy("band_id", "band_hash")
            .agg(F.count(F.lit(1)).alias("sz"))
            .where(F.col("sz") <= max_bucket)
        )
        capped = banded.join(
            small.select("band_id", "band_hash"), ["band_id", "band_hash"], "left_semi"
        ).persist()
        capped.count()  # materialize while the pre-cap copy is cached,
        banded.unpersist()  # then drop it — one cached copy, not two
        banded = capped
    register(banded)  # released by the session owner after consumption
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Pure relational plan (SQL-oracle-able): explode distinct shingles,
    self-join on shingle, count intersections, Jaccard = |I|/(|A|+|B|-|I|).
    At scale this runs on LSH candidates instead of the full corpus.
    """
    words = words_col(F.col(text_col))
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - shingle, F.lit(0)))
    shingles = F.when(
        n >= shingle,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, shingle))),
    ).otherwise(F.array(F.concat_ws(" ", words)))
    doc_sh = (
        df.select(F.col(id_col), F.explode(F.array_distinct(shingles)).alias("sh"))
        .where(F.col("sh") != "")
        .distinct()
    )
    sizes = doc_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = doc_sh.alias("a")
    b = doc_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", shingle: int = 2, id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, simhash bigint) — 64-bit SimHash over word shingles.

    The JVM contributes one xxhash64 per word (:func:`_word_hash_col`);
    ``mapInArrow`` consumes the list column as flat Arrow buffers
    (:func:`kernels.arrow_list_view`), forms shingle hashes numerically
    (:func:`_shingle_hashes_flat`), unpacks them to a [G, 64] bit
    matrix, ±1-sums per doc with np.add.reduceat, sign -> bits — zero
    per-row Python end to end.
    """
    import pyarrow as pa

    def kernel(sh: np.ndarray, seg: np.ndarray, n_docs: int):
        bits = ((sh[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
            np.int64
        )
        contrib = 2 * bits - 1  # ±1
        sums = np.add.reduceat(contrib, seg, axis=0)  # [n_docs, 64]
        fp_bits = (sums > 0).astype(np.uint64)
        fp = (fp_bits << np.arange(64, dtype=np.uint64)[None, :]).sum(axis=1, dtype=np.uint64)
        return pa.array(fp.view(np.int64), type=pa.int64())

    return _map_shingle_batches(df, text_col, id_col, shingle, kernel, "simhash", "long")


def simhash_near_dup_pairs(
    fp_df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming via banded join.

    Split the 64-bit fingerprint into 4 16-bit bands; by pigeonhole any
    pair within Hamming distance 3 agrees on >=1 band — candidates come
    from an equi-join on (band_id, band_value), verified exactly with
    bit_count (JVM-side).
    """
    bands_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("band_id"),
                F.shiftrightunsigned(F.col("simhash"), i * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("band_val"),
            )
            for i in range(4)
        ]
    )
    # persist: both self-join sides reference the banded table; without
    # materialization the simhash UDF would run once per side.
    banded = register(
        fp_df.select(
            F.col(id_col), F.col("simhash"), F.explode(bands_arr).alias("band")
        ).select(id_col, "simhash", "band.band_id", "band.band_val").persist()
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", hamming).where(hamming <= max_hamming).select(
        "id_a", "id_b", "hamming"
    )


_PAIR_TILE = 512  # each kernel temp holds <= 512**2 = 2**18 doubles


def _block_pair_cosines(table: pa.Table, id_col: str, vec_col: str, margin: float) -> pa.Table:
    """Pairs ``id_a < id_b`` of one block with raw cosine >= margin.

    Vectors shorter than the block's longest never pair; a NULL element
    arrives as NaN, which fails the compare.  Dot and norm are left
    folds one column at a time, so raw cosines are bit-identical to
    Catalyst's ``aggregate(zip_with(a, b, x*y), 0.0, acc + x)``.  Pairs
    come tile by tile: memory is bounded by ``_PAIR_TILE``, not by the
    block size or the vector length."""
    flat, offsets = arrow_list_view(table.column(vec_col))
    lens = np.diff(offsets)
    dim = int(lens.max())
    ids = table.column(id_col).combine_chunks()
    ok = np.flatnonzero(lens == dim)
    rows = ok[np.argsort(ids.to_numpy(zero_copy_only=False)[ok], kind="stable")]
    ids = ids.take(pa.array(rows))
    n, key = len(rows), ids.to_numpy(zero_copy_only=False)
    cols = flat[np.arange(dim)[:, None] + offsets[rows]]  # [dim, n], one gather
    nrm = np.zeros(n)
    for c in cols:
        nrm += c * c
    nrm = np.sqrt(nrm)
    out_a, out_b, out_c = [], [], []
    for i0 in range(0, n, _PAIR_TILE):
        i1 = min(i0 + _PAIR_TILE, n)
        for j0 in range(i0, n, _PAIR_TILE):
            j1 = min(j0 + _PAIR_TILE, n)
            acc = np.zeros((i1 - i0, j1 - j0))
            for c in cols:
                acc += c[i0:i1, None] * c[None, j0:j1]
            with np.errstate(divide="ignore", invalid="ignore"):
                acc /= nrm[i0:i1, None] * nrm[None, j0:j1]
            # ids are sorted: id_a < id_b keeps the upper triangle and
            # never pairs a duplicated id with itself
            ii, jj = np.nonzero((acc >= margin) & (key[i0:i1, None] < key[None, j0:j1]))
            out_a.append(i0 + ii)
            out_b.append(j0 + jj)
            out_c.append(acc[ii, jj])
    return pa.table({"id_a": ids.take(pa.array(np.concatenate(out_a))),
                     "id_b": ids.take(pa.array(np.concatenate(out_b))),
                     "cosine": pa.array(np.concatenate(out_c), type=pa.float64())})


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.95,
) -> DataFrame:
    """Pairs ``(id_a < id_b, cosine)`` sharing a ``block_col`` value
    with ``round(cosine, 6) >= threshold``.

    The block key bounds the quadratic term (a label, an LSH bucket, a
    quantizer cell).  Each block is ONE numpy pass of
    :func:`_block_pair_cosines` (groupBy(block).applyInArrow), ~100x
    cheaper than per-pair Catalyst higher-order functions; rounding and
    the threshold compare stay in Spark.  Rows with a NULL id, block or
    vector never pair, as under an equi-join on the block."""
    # round(cos, 6) raises a value by at most 5e-7, so pre-filtering raw
    # cosines at threshold - 1e-6 never drops an output pair
    margin = threshold - 1e-6
    id_type = df.schema[id_col].dataType.simpleString()
    pairs = (
        df.dropna(subset=[id_col, block_col, vec_col])
        .select(id_col, block_col, F.col(vec_col).cast("array<double>").alias(vec_col))
        .groupBy(block_col)
        .applyInArrow(
            lambda table: _block_pair_cosines(table, id_col, vec_col, margin),
            schema=f"id_a {id_type}, id_b {id_type}, cosine double",
        )
    )
    return (
        pairs.withColumn("cosine", F.round(F.col("cosine"), 6))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_lsh(
    df: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Corpus-scale embedding near-dup: random-hyperplane LSH buckets
    as the blocking key (cos >= 0.95 pairs agree on all 8 sign bits
    w.p. ~0.77 per plane set; same-bucket blocking bounds the quadratic
    term by bucket size instead of label cardinality), then
    :func:`embedding_near_dup_pairs` per bucket.  Only ``dim``-long
    vectors take part: the planes cannot bucket any other."""
    from .similarity import hyperplane_signatures

    bucketed = hyperplane_signatures(
        df.select(id_col, vec_col), dim=dim, n_planes=n_planes, vec_col=vec_col, seed=seed
    )
    return embedding_near_dup_pairs(
        bucketed.where(F.size(vec_col) == dim), vec_col=vec_col, id_col=id_col,
        block_col="bucket", threshold=threshold,
    )


def assign_cells_expr(
    df: DataFrame, centroids, vec_col: str = "embedding"
) -> DataFrame:
    """Adds ``cell: int`` — index of the max-dot-product centroid,
    computed ENTIRELY in Catalyst expressions (zip_with/aggregate dot
    against centroid literals, argmax via array_position-of-array_max).

    Centroids must be L2-normalized so argmax dot == argmax cosine
    (the probe vector then needs no normalization at all).  Dots are
    rounded to 6 decimals before the argmax and ties take the FIRST
    index — both rules replay verbatim in SQL engines (DuckDB:
    ``list_position(arr, list_aggregate(arr, 'max'))``), which makes
    the assignment cross-engine deterministic the same way the cosine
    oracles are.  NULL/missing vectors dot to 0 everywhere and land in
    the first cell.

    Tie-probability note (round-7 advice): cross-engine parity rests on
    Spark ``F.round`` (BigDecimal HALF_UP over the shortest-decimal
    repr) equaling DuckDB ``round`` (half-away-from-zero on the binary
    double) at 6 decimals, and the argmax AMPLIFIES a 1-ulp divergence
    into a different cell id rather than a ±1e-6 delta.  The engines
    differ only when a dot product's shortest repr lands exactly on a
    5 at the 7th decimal with opposing roundings, or two rounded dots
    tie at all 6 decimals with the true max flipping — for continuous
    dot products of seeded uniform vectors both are measure-~1e-10
    events per row, the same accepted risk class as the cosine
    threshold oracles (tests/test_dedup_ops.py documents the bound).
    If a semdedup oracle hash ever flakes, diff the per-row ``cell``
    columns first: a single flipped cell id with matching dots at 6
    decimals is this, not a logic bug.

    This is the oracle-stable sibling of :func:`similarity.ivf_assign`
    (Arrow numpy matmul) — same contract; use that one in hot loops
    where k is large, this one when the assignment must be replayed
    by a second engine.  Cost is k aggregate expressions per row
    (whole-stage-codegen'd, no Python)."""
    cents = np.asarray(centroids, dtype=np.float64)
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    dots = []
    for j in range(len(cents)):
        lit = F.array(*[F.lit(float(x)) for x in cents[j]])
        d = F.aggregate(
            F.zip_with(v, lit, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        dots.append(F.round(F.coalesce(d, F.lit(0.0)), 6))
    arr = F.array(*dots)
    cell = (F.array_position(arr, F.array_max(arr)) - 1).cast("int")
    return df.withColumn("cell", cell)


def semdedup_flags(
    df: DataFrame,
    centroids,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) semantic dedup:
    cluster the embedding space with a coarse quantizer, then within
    each cluster drop every vector whose cosine to some LOWER-ID
    cluster-mate reaches ``threshold`` — the public reference
    implementation's upper-triangular rule (a point survives iff no
    earlier point in its cluster is a semantic duplicate of it).

    Returns one row per input vector:
    ``(id_col, cell int, is_dup int, max_lower_cos double)`` where
    ``max_lower_cos`` is the best cosine to a lower-id cluster-mate at
    or above threshold, ``-1.0`` when none (sentinel, not NULL —
    cross-engine NULL doubles are not hash-comparable).

    ``centroids`` come from :func:`similarity.kmeans_centroids` in
    production (trained on a bounded sample, as the paper does) or any
    deterministic unit-vector set when the run must be replayable by a
    SQL oracle — the rule itself is centroid-agnostic.

    Scale shape: the quadratic term is bounded by CLUSTER size, and the
    paper's own recipe keeps cluster size ~constant by growing
    ``n_clusters`` with the corpus (50k clusters for LAION-440M) — the
    knob IS the bound, exactly like the LSH band / hyperplane-bucket
    blocking elsewhere in this module.  The celled table is persisted
    (registered with cacheutil) because the pair kernel and the final
    flag join both read it and would otherwise each re-evaluate the
    k-dot assignment; the kernel's groupBy shuffles (id, vector, cell)
    keyed by the small-int cell."""
    celled = register(
        assign_cells_expr(
            df.select(id_col, vec_col), centroids, vec_col=vec_col
        ).persist()
    )
    pairs = embedding_near_dup_pairs(
        celled,
        vec_col=vec_col,
        id_col=id_col,
        block_col="cell",
        threshold=threshold,
    )
    dropped = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.max("cosine").alias("__mlc")
    )
    return (
        celled.select(id_col, "cell")
        .join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.when(F.col("__mlc").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("is_dup"),
            F.round(F.coalesce(F.col("__mlc"), F.lit(-1.0)), 6).alias(
                "max_lower_cos"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 30,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: the transitive closure
    ("A~B, B~C => keep one of {A,B,C}") a dedup pipeline applies
    before choosing representatives, in O(log d) rounds of the
    alternating large-star / small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014).

    * large-star: every node connects its LARGER neighbors to the
      minimum of its closed neighborhood.
    * small-star: every node connects its (smaller) neighbors and
      itself to their minimum.

    Each step is one window min keyed by node, so a round is three
    shuffles (two windows, one distinct) and no join.  Both steps
    preserve connectivity and never raise the minimum reachable label,
    and both leave every edge pointing from a child to a smaller
    parent.  Such an edge set is the fixpoint once it is a star forest
    — every child has exactly one parent and no parent is a child — so
    each round ends with one job that looks for a node breaking that
    rule (a driver decision, not driver data).  Near-dup cliques are
    stars after the first round.

    Every round's edges are local-checkpointed: a round's plan embeds
    the previous round's several times, so without truncation the
    driver analyzer OOMs around round 7 (measured).  Only the newest
    checkpoint stays alive; the returned labels derive from it, so it
    is registered for :func:`~marker_spark.cacheutil.release_all`.

    Returns (id, component) for every node appearing in ``pairs``,
    component = the minimum id of the node's component.  Raises
    ``ValueError`` for ``max_rounds < 1`` before any job, and
    ``RuntimeError`` if no star forest is reached in ``max_rounds``
    rounds.  ``stats`` (optional dict) receives ``rounds`` and
    ``converged``, so scale probes (BENCH/cc_scale_probe.py) can
    record the bounded-rounds claim next to wall time.
    """
    from pyspark.sql import Window

    from ..cacheutil import local_checkpoint

    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    uv = register(
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct().persist()
    )
    cur = uv.where(F.col("u") != F.col("v"))
    by_u = Window.partitionBy("u")
    ck = None  # storage handle of the newest checkpoint
    converged = False
    try:
        for rounds in range(1, max_rounds + 1):
            # -- large-star: (larger neighbor, min of closed neighborhood) --
            sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
            large = (
                sym.withColumn("m", F.least(F.min("v").over(by_u), F.col("u")))
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            # -- small-star: a child and each of its parents -> min parent --
            small = large.withColumn("m", F.min("v").over(by_u))
            step, step_ck = local_checkpoint(
                small.select(F.explode(F.array(
                    F.struct(F.col("u"), F.col("m").alias("v")),
                    F.struct(F.col("v").alias("u"), F.col("m").alias("v")),
                )).alias("e"))
                .select("e.u", "e.v")
                .where(F.col("u") != F.col("v"))
                .distinct()
            )
            if ck is not None:
                ck.unpersist()
            cur, ck = step, step_ck
            # a node with two child edges, or with child and parent
            # edges, keeps the edge set off the star-forest fixpoint
            roles = cur.select(F.col("u").alias("x"), F.lit(1).alias("child")).union(
                cur.select(F.col("v").alias("x"), F.lit(0).alias("child"))
            )
            converged = not (
                roles.groupBy("x")
                .agg((F.sum("child") + F.max(1 - F.col("child"))).alias("n"))
                .where(F.col("n") > 1)
                .limit(1)
                .count()
            )
            if converged:
                break
    except Exception:
        if ck is not None:
            ck.unpersist()
        raise
    if stats is not None:
        stats.update(rounds=rounds, converged=converged)
    if not converged:
        ck.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within max_rounds={max_rounds}"
        )
    register(ck)
    # the star forest's edges label children with their root; roots and
    # nodes seen only in u==v self-pairs label themselves
    labels = cur.select(F.col("u").alias("id"), F.col("v").alias("component"))
    nodes = uv.select(F.col("u").alias("id")).union(uv.select(F.col("v").alias("id")))
    roots = nodes.distinct().join(labels, "id", "left_anti")
    return labels.union(roots.select("id", F.col("id").alias("component")))


def char_grams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
) -> DataFrame:
    """(doc_id, pos, g) character k-gram table — the shared front end
    of :func:`duplicated_spans` and :func:`boilerplate_spans`.  When a
    pipeline runs BOTH (the ``--span-k --boilerplate`` job path), build
    this once, ``register(grams.persist())``, and hand it to each via
    their ``grams=`` parameter: the corpus-sized explode and everything
    upstream of it then runs once instead of twice."""
    gram_expr = F.when(
        F.length(text_col) >= k,
        F.expr(
            f"transform(sequence(1, length({text_col}) - {k} + 1),"
            f" i -> substring({text_col}, i, {k}))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    return spread_thin(docs).select(
        F.col(id_col).alias("doc_id"), F.posexplode(gram_expr).alias("idx", "g")
    ).select("doc_id", (F.col("idx") + 1).alias("pos"), "g")


def duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    min_len: int = 40,
    max_df: int = 16,
    max_occ: int = 64,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Substring-level exact dedup (Lee et al.-style duplicated-span
    detection): maximal character spans of length >= min_len shared
    verbatim between two documents, found from shared k-gram runs.

    Pure Catalyst — zero Python in the plan:

    1. Every char k-gram per doc: JVM ``transform(sequence(...))`` +
       ``posexplode`` emitting (doc_id, pos, k-gram).  O(corpus chars)
       rows, never wider than (id, int, k chars).  The RAW substring is
       the join key — measured 2.3x cheaper than md5-per-position at
       sf0.1, identical semantics (string equality is bytewise in both
       Spark and DuckDB), and the frequency cap bounds key skew anyway.
    2. Frequency pre-filter (the scale gate): only grams seen in 2..
       max_df distinct docs and <= max_occ total survive — the analogue
       of winnowing's max_df stop-fingerprint cap, bounding both the
       boilerplate blow-up AND within-doc repetition (an "aaaa..."
       pathology otherwise yields one span per diagonal).  In a mostly
       deduplicated 100 TB corpus this discards nearly everything
       map-side-aggregated; the pair join below only touches grams
       already known to be duplicated.
    3. Pair join on the raw gram key with doc_a < doc_b; runs of
       consecutive positions on one diagonal (pos_a - pos_b) are
       collapsed to maximal spans with one window + groupBy:
       span_len = run_length + k - 1.

    The filtered gram table is persisted (registered for release):
    the self-join must not recompute the explode+md5 pass per side.
    """
    owns = grams is None
    if owns:
        grams = char_grams(docs, text_col, id_col, k)
    return _spans_from_grams(grams, k, min_len, max_df, max_occ, manage_persist=owns)


def duplicated_token_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 6,
    min_len: int = 10,
    max_df: int = 16,
    max_occ: int = 64,
) -> DataFrame:
    """Token-granularity duplicated spans — the unit Lee et al.'s
    substring dedup actually operates on (runs of >= min_len shared
    WORDS).  Same diagonal-run machinery as :func:`duplicated_spans`,
    but the gram key is the k-word shingle string and positions/span
    lengths are word indices/counts.  Returns (doc_a, doc_b, start_a,
    start_b, span_len) with 1-based word positions."""
    words = words_col(F.col(text_col))
    src = spread_thin(docs).select(
        F.col(id_col).alias("doc_id"), words.alias("__words")
    )
    gram_expr = F.when(
        F.size("__words") >= k,
        F.expr(
            f"transform(sequence(1, size(__words) - {k} + 1),"
            f" i -> concat_ws(' ', slice(__words, i, {k})))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = src.select("doc_id", F.posexplode(gram_expr).alias("idx", "g")).select(
        "doc_id", (F.col("idx") + 1).alias("pos"), "g"
    )
    return _spans_from_grams(grams, k, min_len, max_df, max_occ)


def _spans_from_grams(
    grams: DataFrame,
    k: int,
    min_len: int,
    max_df: int,
    max_occ: int,
    manage_persist: bool = True,
) -> DataFrame:
    """(doc_id, pos, g) gram rows -> maximal shared spans: frequency
    cap, pair join on the gram, diagonal-run collapse.  Shared by the
    char- and word-granularity front ends.  The raw gram table is
    consumed in a single pass (the cap is a window filter, not an
    agg + join-back), so ``manage_persist`` is now only a caller
    contract marker: False means the caller persisted the gram table
    for ITS other consumers (the shared-gram job path)."""
    from pyspark.sql import Window

    # Frequency cap and survivor filter fused into ONE exchange of the
    # gram table: window aggregates over partitionBy(g) attach exact
    # nd (max dense_rank over doc_id ordering == count distinct docs,
    # no EXPAND) and nocc to every gram row, and the cap filters rows
    # in place.  The former shape — groupBy agg to a keep-list, then a
    # second gram-table shuffle to semi-join it back — moved the wide
    # 24-char key through two exchanges and needed the raw gram table
    # persisted for the two passes; this moves it through one and
    # persists only the capped survivors (the a/b pair-join sides).
    wg = Window.partitionBy("g")
    wr = wg.orderBy("doc_id")
    fg = (
        grams.withColumn("__dr", F.dense_rank().over(wr))
        .withColumn("__nd", F.max("__dr").over(wg))
        .withColumn("__nocc", F.count(F.lit(1)).over(wg))
        .where(
            (F.col("__nd") >= 2) & (F.col("__nd") <= max_df) & (F.col("__nocc") <= max_occ)
        )
        .select("doc_id", "pos", "g")
    )
    fg = register(fg.persist())
    pairs = (
        fg.alias("a")
        .join(fg.alias("b"), "g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pos_a"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
        # no distinct: each (doc, pos) carries exactly one gram, so a
        # (doc_a, doc_b, pos_a, diag) combination cannot repeat
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    islands = pairs.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        islands.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(F.min("pos_a").alias("start_a"), F.count(F.lit(1)).alias("run"))
        .select(
            "doc_a",
            "doc_b",
            "start_a",
            (F.col("start_a") - F.col("diag")).alias("start_b"),
            (F.col("run") + k - 1).alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
    )


def boilerplate_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 24,
    min_len: int = 40,
    max_df: int = 16,
    max_hot_grams: int = 100_000,
    grams: DataFrame | None = None,
) -> DataFrame:
    """High-document-frequency boilerplate detection — the complement
    of :func:`duplicated_spans`' frequency cap.  The pair path bounds
    its self-join by dropping grams seen in more than ``max_df`` docs,
    which makes the MOST duplicated content in a real crawl (license
    headers, nav chrome) invisible to it by construction.  This
    operator covers exactly that exempt region: character ranges of
    each doc covered by k-grams whose document frequency EXCEEDS
    ``max_df``, merged into maximal contiguous islands of length >=
    ``min_len``.

    Returns (doc_id, start, span_len) with 1-based char positions —
    one row per maximal boilerplate island per doc.  Unlike the pair
    path there is no canonical keeper: boilerplate is reported (and,
    composed with :func:`remove_duplicated_spans`, excised) from EVERY
    doc; feed it as the b-side::

        remove_duplicated_spans(docs, spans.select(
            F.col("doc_id").alias("doc_b"),
            F.col("start").alias("start_b"), "span_len"))

    Scale shape (the reference's bound-the-structure-don't-drop-hot-
    keys discipline, markercache.cpp:22-30): high-DF grams are FEW
    DISTINCT strings by definition — the hot table is bounded by
    ``max_hot_grams`` (deterministic top-k by (df desc, gram)) and
    broadcast into an occurrence join against the gram table, so no
    pair join ever touches a hot key.  O(corpus chars) gram rows
    shuffle once for the DF count and once for the per-doc island
    window; the quadratic region the cap exists to avoid is never
    entered.
    """
    from pyspark.sql import Window

    if grams is None:
        grams = char_grams(docs, text_col, id_col, k)
    # Hot-gram detection in ONE exchange of the gram table (the
    # _spans_from_grams window form): exact per-gram distinct-doc
    # counts ride along as window aggregates (max dense_rank — no
    # EXPAND) and the df > max_df filter keeps only hot-gram
    # occurrence rows, so the former shape's second full-gram pass
    # (broadcast occurrence join against a persisted gram table) and
    # the raw-gram persist disappear.  The deterministic top-k bound
    # (df desc, gram) is enforced on the already-tiny hot subset: a
    # distinct hot-gram table semi-joined back, still never letting a
    # pathological corpus make the hot set unbounded.
    wg = Window.partitionBy("g")
    wr = wg.orderBy("doc_id")
    hot_occ = register(
        grams.withColumn("__dr", F.dense_rank().over(wr))
        .withColumn("__nd", F.max("__dr").over(wg))
        .where(F.col("__nd") > max_df)
        .select("doc_id", "pos", "g", "__nd")
        .persist()
    )
    hot = (
        hot_occ.select("g", "__nd")
        .distinct()
        .orderBy(F.desc("__nd"), "g")
        .limit(max_hot_grams)
        .select("g")
    )
    occ = (
        hot_occ.join(F.broadcast(hot), "g")
        .select("doc_id", "pos", (F.col("pos") + k - 1).alias("e"))
    )
    # gaps-and-islands over [pos, pos+k-1] cover intervals: positions
    # are unique per doc, so both window orders are deterministic;
    # adjacency (pos == prev_e + 1) merges — the union range is still
    # contiguous boilerplate-covered text
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("e").over(w_ord.rowsBetween(Window.unboundedPreceding, -1))
    return (
        occ.withColumn(
            "ni",
            (F.col("pos") > F.coalesce(prev_max, F.lit(-(1 << 40))) + 1).cast("int"),
        )
        .withColumn("island", F.sum("ni").over(w_ord))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("start"),
            (F.max("e") - F.min("pos") + 1).alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
        .select("doc_id", "start", "span_len")
    )


def remove_duplicated_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Cut duplicated spans OUT of the corpus (the removal half of
    Lee et al.'s substring dedup): each span keeps its doc_a occurrence
    (canonical = lower id, as :func:`duplicated_spans` orders pairs)
    and is removed from doc_b.

    Pure Catalyst end to end — no Python string surgery:

    1. b-side intervals -> overlap-merged islands (running-max window,
       the gaps-and-islands trick).
    2. Islands -> kept complement segments via lag(), plus the tail
       segment after the last island.
    3. Rebuild text as concat of substrings: sort_array over collected
       (seg_start, part) structs, transform, concat_ws — deterministic
       without relying on collect_list ordering.

    Returns the full corpus with ``text`` rewritten (untouched docs
    pass through) plus n_chars_before/n_chars_after.  ``carry_cols``
    names per-doc scalar columns of ``docs`` (e.g. ``("source",)``) to
    carry into the output — cheaper than a corpus-wide join back onto
    the result (they ride the rebuild groupBy as extra keys, exact
    because they are constant per doc).

    Scale shape: only AFFECTED docs (those carrying at least one span)
    enter the segment join + rebuild aggregation; the untouched rest —
    the overwhelming majority of a mostly-clean corpus — take a
    map-only anti-join passthrough.  An earlier draft shuffled the
    ENTIRE corpus text through the collect_list rebuild, paying a
    corpus-sized exchange to reassemble documents that were never cut
    (review follow-up r7).
    """
    from pyspark.sql import Window

    iv = (
        spans.select(
            F.col("doc_b").alias("__id"),
            F.col("start_b").alias("s"),
            (F.col("start_b") + F.col("span_len") - 1).alias("e"),
        )
        .groupBy("__id", "s")
        .agg(F.max("e").alias("e"))
    )
    w_ord = Window.partitionBy("__id").orderBy("s")
    prev_max = F.max("e").over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = register(
        # three consumers (segments, affected-semi, untouched-anti):
        # without a persist each one re-runs the whole upstream span
        # subtree — for duplicated_spans that is the gram pair join and
        # both windows, three times over.  O(spans) rows, tiny relative
        # to the corpus.
        iv.withColumn(
            "new_island", (F.col("s") > F.coalesce(prev_max, F.lit(-1))).cast("int")
        )
        .withColumn("island", F.sum("new_island").over(w_ord))
        .groupBy("__id", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .persist()
    )
    # complement segments: [prev_e+1, s-1] before each island, and the
    # tail [last_e+1, len] appended at rebuild time via the doc join
    seg = islands.select(
        "__id",
        F.coalesce(F.lag("e").over(w_ord) + 1, F.lit(1)).alias("seg_start"),
        (F.col("s") - 1).alias("seg_end"),
        "e",
    )
    tail = islands.groupBy("__id").agg((F.max("e") + 1).alias("seg_start"))
    kept = seg.select("__id", "seg_start", "seg_end").unionByName(
        tail.select("__id", "seg_start", F.lit(None).cast("long").alias("seg_end"))
    )
    affected = islands.select("__id").distinct()
    docs_aff = docs.join(affected, docs[id_col] == affected["__id"], "left_semi")
    seg_end_eff = F.coalesce(F.col("seg_end"), F.length(text_col).cast("long"))
    part = F.when(
        seg_end_eff >= F.col("seg_start"),
        F.expr(
            f"substring({text_col}, cast(seg_start as int), "
            f"cast(coalesce(seg_end, length({text_col})) - seg_start + 1 as int))"
        ),
    ).otherwise(F.lit(""))
    carried = [F.col(c) for c in carry_cols]
    rebuilt = (
        # inner join: every affected doc has at least one segment row
        docs_aff.join(kept, docs_aff[id_col] == kept["__id"])
        .select(
            F.col(id_col).alias("doc_id"),
            F.length(text_col).alias("n_chars_before"),
            F.col("seg_start"),
            part.alias("part"),
            *carried,
        )
        .groupBy("doc_id", "n_chars_before", *carry_cols)
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_start", "part"))),
                    lambda x: x["part"],
                ),
            ).alias("text")
        )
        .withColumn("n_chars_after", F.length("text"))
        .select("doc_id", "n_chars_before", "text", "n_chars_after", *carry_cols)
    )
    # untouched docs (incl. every NULL-text doc — no grams, no spans)
    # pass through map-only: length() keeps NULL for NULL text, so the
    # NULL-text contract (text stays NULL, not '') holds for free
    untouched = docs.join(
        affected, docs[id_col] == affected["__id"], "left_anti"
    ).select(
        F.col(id_col).alias("doc_id"),
        F.length(text_col).alias("n_chars_before"),
        F.col(text_col).alias("text"),
        F.length(text_col).alias("n_chars_after"),
        *carried,
    )
    return rebuilt.unionByName(untouched)


def canonical_selection(
    members: DataFrame,
    id_col: str = "doc_id",
    cluster_col: str = "component",
    score_col: str = "score",
) -> DataFrame:
    """Representative selection — the step after clustering in a real
    dedup pipeline: per cluster keep the highest-``score_col`` member
    (ties: lowest ``id_col``), mark the rest as duplicates of it.

    ``members`` is (id_col, cluster_col, score_col) — typically the
    output of :func:`connected_components` joined with a quality score.
    Returns the input plus ``canonical_id`` (the kept member's id) and
    ``keep`` (bool).  NULL scores sort last, so an unscored member is
    canonical only in an all-NULL cluster (then lowest id wins).

    Scale shape: ONE window over ``cluster_col`` (a single shuffle
    keyed by cluster; per-cluster work is a sort bounded by cluster
    size — near-dup clusters are small by construction, and a
    pathological giant cluster is already capped upstream by the LSH
    ``max_bucket`` / frequency caps).  The full-frame ``first()`` over
    the ordered window computes the argmax without a second self-join.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(cluster_col)
        .orderBy(F.desc_nulls_last(score_col), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    out = members.withColumn("canonical_id", F.first(id_col).over(w))
    return out.withColumn("keep", F.col(id_col) == F.col("canonical_id"))

