"""Incremental MinHash-LSH dedup against a persisted band index —
the daily-crawl shape at corpus scale (build the index once, each
increment joins its bands against it instead of re-running discovery).

The load-bearing invariant: incremental pairs over an (old, new)
split == batch pairs over the union MINUS batch pairs over old alone
— pinned here on real splitmix signatures, with and without the
joint-size bucket cap.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from marker_spark.cacheutil import release_all
from marker_spark.ops.dedup import (
    incremental_lsh_pairs,
    incremental_pairs_from_bands,
    lsh_band_table,
    lsh_candidate_pairs,
    minhash_signatures,
)

SF_DIR = "/root/testdata/sf0.001"
BANDS, RPB = 8, 4  # 32 perms; small so the fixture yields pairs


def _pairs_set(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


@pytest.fixture(scope="module")
def split(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = minhash_signatures(docs, num_perm=BANDS * RPB).persist()
    old = sigs.where(F.col("doc_id") % 4 != 0)
    new = sigs.where(F.col("doc_id") % 4 == 0)
    yield sigs, old, new
    sigs.unpersist()
    release_all()


def test_incremental_equals_batch_difference(spark, split):
    sigs, old, new = split
    batch_all = _pairs_set(lsh_candidate_pairs(sigs, bands=BANDS, rows_per_band=RPB))
    batch_old = _pairs_set(lsh_candidate_pairs(old, bands=BANDS, rows_per_band=RPB))
    index = lsh_band_table(old, bands=BANDS, rows_per_band=RPB).persist()
    inc, new_bands = incremental_lsh_pairs(index, new, bands=BANDS, rows_per_band=RPB)
    got = _pairs_set(inc)
    assert got == batch_all - batch_old
    assert got, "fixture produced no incremental pairs — test is vacuous"
    # every incremental pair touches >= 1 new doc
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in got)
    index.unpersist()
    release_all()


def test_incremental_cap_equals_batch_cap_restricted(spark, split):
    """Joint-size cap semantics: a bucket's cap counts index rows + new
    rows, so incremental-with-cap == batch-with-cap over the full
    corpus, restricted to pairs with >= 1 new side."""
    sigs, old, new = split
    cap = 3
    batch_capped = _pairs_set(
        lsh_candidate_pairs(sigs, bands=BANDS, rows_per_band=RPB, max_bucket=cap)
    )
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = {p for p in batch_capped if p[0] in new_ids or p[1] in new_ids}
    index = lsh_band_table(old, bands=BANDS, rows_per_band=RPB).persist()
    inc, _ = incremental_lsh_pairs(
        index, new, bands=BANDS, rows_per_band=RPB, max_bucket=cap
    )
    assert _pairs_set(inc) == want
    index.unpersist()
    release_all()


def test_second_increment_against_appended_index(spark, split):
    """The index-append contract: after increment 1, index' = index
    UNION new_bands; increment 2 against index' emits exactly the
    batch-over-all pairs that touch increment 2."""
    sigs, old, new = split
    inc1 = new.where(F.col("doc_id") % 8 == 0)
    inc2 = new.where(F.col("doc_id") % 8 != 0)
    index = lsh_band_table(old, bands=BANDS, rows_per_band=RPB).persist()
    _, bands1 = incremental_lsh_pairs(index, inc1, bands=BANDS, rows_per_band=RPB)
    index2 = index.unionByName(bands1).persist()
    pairs2, _ = incremental_lsh_pairs(index2, inc2, bands=BANDS, rows_per_band=RPB)
    got = _pairs_set(pairs2)

    batch_all = _pairs_set(lsh_candidate_pairs(sigs, bands=BANDS, rows_per_band=RPB))
    inc2_ids = {r["doc_id"] for r in inc2.select("doc_id").collect()}
    want = {p for p in batch_all if p[0] in inc2_ids or p[1] in inc2_ids}
    assert got == want
    index.unpersist()
    index2.unpersist()
    release_all()


def test_broadcast_new_keeps_index_unshuffled(spark, split):
    """With broadcast_new the cross join must be a BroadcastHashJoin —
    the persisted index side never moves through an exchange (the small
    daily-batch plan on a real cluster)."""
    _, old, new = split
    index = lsh_band_table(old, bands=BANDS, rows_per_band=RPB)
    nb = lsh_band_table(new, bands=BANDS, rows_per_band=RPB).persist()
    pairs = incremental_pairs_from_bands(index, nb, broadcast_new=True)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    pairs.count()
    nb.unpersist()
    release_all()


def test_compaction_equivalence_synthetic(spark):
    """compact_band_index contract on a hand-built index: pairs
    against (compacted, frozen) == pairs against the logically
    equivalent fresh index (retained rows, uncompacted), covering all
    three bucket fates — frozen (retained size > cap), untouched
    (always under cap), and RESURRECTED (over cap before retention,
    under after: its rows must stay and emit pairs again)."""
    from marker_spark.ops.dedup import compact_band_index

    cap = 4
    # bucket A hash 100: docs 1-6, all kept -> retained 6 > cap: frozen
    # bucket B hash 200: docs 1-3 -> under cap, untouched
    # bucket C hash 300: docs 10-14, retention drops 12-14 -> 2 left:
    #   was over cap (5+new>4), falls under after retention
    idx_rows = (
        [(d, 0, 100) for d in range(1, 7)]
        + [(d, 0, 200) for d in range(1, 4)]
        + [(d, 0, 300) for d in range(10, 15)]
    )
    index = spark.createDataFrame(
        idx_rows, "doc_id long, band_id int, band_hash long"
    )
    keep = spark.createDataFrame(
        [(d,) for d in list(range(1, 7)) + [10, 11, 101, 102]], "doc_id long"
    )
    nb = spark.createDataFrame(
        [(101, 0, 100), (101, 0, 300), (102, 0, 300), (102, 0, 200)],
        "doc_id long, band_id int, band_hash long",
    )
    compacted, frozen = compact_band_index(index, keep, max_bucket=cap)
    fresh = index.join(keep, "doc_id", "left_semi")

    got = _pairs_set(
        incremental_pairs_from_bands(compacted, nb, max_bucket=cap, frozen=frozen)
    )
    want = _pairs_set(incremental_pairs_from_bands(fresh, nb, max_bucket=cap))
    assert got == want
    # bucket A stayed capped (frozen_sz=6 > 4) -> no pairs touch hash 100;
    # bucket C resurrected -> cross pairs (10,101),(10,102),(11,101),
    # (11,102) and within pair (101,102); bucket B: 3 idx + 1 new = 4 <= cap
    assert got == {(10, 101), (10, 102), (11, 101), (11, 102), (101, 102),
                   (1, 102), (2, 102), (3, 102)}
    # storage actually reclaimed: frozen bucket's 6 rows -> 1 tombstone
    assert frozen.collect() == [
        spark.createDataFrame([(0, 100, 6)],
                              "band_id int, band_hash long, frozen_sz long")
        .collect()[0]
    ]
    assert compacted.count() == fresh.count() - 6
    release_all()


def test_compaction_equivalence_on_fixture(spark, split):
    """Same contract on real signatures at fixture scale: retention
    drops a third of the old corpus, compaction freezes the degenerate
    buckets, and every increment pair set matches the fresh retained
    index exactly."""
    from marker_spark.ops.dedup import compact_band_index

    _, old, new = split
    index = lsh_band_table(old, bands=BANDS, rows_per_band=RPB).persist()
    keep = old.select("doc_id").where(F.col("doc_id") % 3 != 1)
    fresh = index.join(keep, "doc_id", "left_semi")
    # pick the cap just under the largest retained bucket so the
    # degenerate-reclaim path actually fires on this fixture
    biggest = (
        fresh.groupBy("band_id", "band_hash").count()
        .agg(F.max("count")).collect()[0][0]
    )
    cap = max(1, int(biggest) - 1)
    compacted, frozen = compact_band_index(index, keep, max_bucket=cap)
    nb = lsh_band_table(new, bands=BANDS, rows_per_band=RPB).persist()

    got = _pairs_set(
        incremental_pairs_from_bands(compacted, nb, max_bucket=cap, frozen=frozen)
    )
    want = _pairs_set(incremental_pairs_from_bands(fresh, nb, max_bucket=cap))
    assert got == want
    # the pass reclaimed something on this fixture (degenerate buckets
    # exist at cap=3) and the tombstones account for every removed row
    n_frozen_rows = fresh.count() - compacted.count()
    assert n_frozen_rows > 0
    assert n_frozen_rows == sum(r["frozen_sz"] for r in frozen.collect())
    index.unpersist()
    nb.unpersist()
    release_all()


def test_frozen_without_cap_raises(spark):
    from marker_spark.ops.dedup import compact_band_index

    index = spark.createDataFrame(
        [(1, 0, 100)], "doc_id long, band_id int, band_hash long"
    )
    keep = spark.createDataFrame([(1,)], "doc_id long")
    compacted, frozen = compact_band_index(index, keep, max_bucket=1)
    with pytest.raises(ValueError, match="frozen"):
        incremental_pairs_from_bands(index, index, frozen=frozen)
    # retention-only mode returns no tombstones
    retained, none_frozen = compact_band_index(index, keep)
    assert none_frozen is None and retained.count() == 1
    release_all()


def test_direct_call_evaluates_bands_once(spark):
    """incremental_pairs_from_bands feeds new_bands to THREE consumers
    (cross leg + both self-join sides); called DIRECTLY with an
    unpersisted input and max_bucket=None it must persist internally so
    the band subtree runs once, not once per consumer (r9 verdict #7 —
    previously only the public wrapper persisted)."""
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def _counted(v: pd.Series) -> pd.Series:
        acc.add(len(v))
        return v

    counted = F.pandas_udf(_counted, LongType())

    nb = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        counted((F.col("id") % 2).cast("long")).alias("band_hash"),
    )
    index = spark.createDataFrame([], "doc_id long, band_id int, band_hash long")
    pairs = incremental_pairs_from_bands(index, nb, max_bucket=None)
    # two buckets {0,2,4} and {1,3,5} -> 3 pairs each
    assert pairs.count() == 6
    assert acc.value == 6, f"band subtree ran {acc.value / 6:.0f}x, want once"
    release_all()


def test_empty_increment_is_safe(spark, split):
    _, old, new = split
    index = lsh_band_table(old, bands=BANDS, rows_per_band=RPB)
    empty = new.where(F.lit(False))
    pairs, bands_df = incremental_lsh_pairs(index, empty, bands=BANDS, rows_per_band=RPB)
    assert pairs.count() == 0
    assert bands_df.count() == 0
    release_all()


def test_incremental_dedup_job_compact_lifecycle(spark, tmp_path, capsys):
    """Full index lifecycle through the job: dedup batch -> --compact
    (retention + tombstones) -> next dedup batch consumes the frozen
    table and matches the fresh-retained-index result exactly."""
    import json

    from jobs.incremental_dedup import _frozen_path, main
    from marker_spark.ops.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # day0: old corpus PLUS 5 clones of one long doc -> a degenerate
    # bucket whose retained size exceeds the cap below
    base = docs.where((F.col("doc_id") % 4 != 0) & (F.length("text") > 50))
    hot = (
        base.orderBy("doc_id").limit(1)
        .crossJoin(spark.range(5).withColumnRenamed("id", "k"))
        .select((F.col("doc_id") * 10 + F.col("k") + 2_000_000).alias("doc_id"),
                "text")
    )
    day0_df = base.select("doc_id", "text").unionByName(hot)
    day0 = str(tmp_path / "day0.parquet")
    day0_df.write.parquet(day0)
    day1 = str(tmp_path / "day1.parquet")
    docs.where(F.col("doc_id") % 4 == 0).select("doc_id", "text").write.parquet(day1)

    index = str(tmp_path / "lsh_index")
    cap = "6"
    main(["--input", day0, "--index", index, "--pairs-out",
          str(tmp_path / "p0"), "--max-bucket", cap])
    capsys.readouterr()
    rows0 = spark.read.parquet(index).count()

    # retention keeps everything except two of the clones (the hot
    # bucket still holds 4 > ... with the base doc: sized vs cap by data)
    keep_df = day0_df.select("doc_id").where(F.col("doc_id") % 10 != 3)
    keep = str(tmp_path / "keep.parquet")
    keep_df.write.parquet(keep)
    main(["--compact", "--keep", keep, "--index", index,
          "--max-bucket", "4"])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "compact"
    assert rep["rows_after"] < rep["rows_before"] == rows0
    assert rep["frozen_buckets"] > 0
    frozen = spark.read.parquet(_frozen_path(index))
    assert frozen.count() == rep["frozen_buckets"]

    # next batch consumes the tombstones and matches the fresh
    # retained index exactly
    main(["--input", day1, "--index", index, "--pairs-out",
          str(tmp_path / "p1"), "--max-bucket", "4", "--no-append"])
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["frozen_buckets"] == rep["frozen_buckets"]

    fresh_index = lsh_band_table(
        minhash_signatures(day0_df.join(keep_df, "doc_id", "left_semi")),
        bands=32, rows_per_band=4,
    )
    new_sigs = minhash_signatures(spark.read.parquet(day1))
    want_pairs, _ = incremental_lsh_pairs(fresh_index, new_sigs, max_bucket=4)
    want = _pairs_set(want_pairs)
    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(str(tmp_path / "p1")).collect()
    }
    # the job post-filters by verified jaccard >= 0.7 for within-batch
    # pairs and ships cross pairs unverified — compare the CROSS subset,
    # which is exactly the candidate set
    new_ids = {r["doc_id"] for r in new_sigs.select("doc_id").collect()}
    want_cross = {p for p in want
                  if (p[0] in new_ids) != (p[1] in new_ids)}
    got_cross = {p for p in got
                 if (p[0] in new_ids) != (p[1] in new_ids)}
    assert got_cross == want_cross
    release_all()


def test_incremental_dedup_job_two_batches(spark, tmp_path, capsys):
    """jobs/incremental_dedup.py across two batches: batch 0 creates
    the index, batch 1 joins + appends; cross-batch candidates surface
    with NULL jaccard (the index stores no text, by design), within-
    batch pairs arrive Jaccard-verified."""
    import json

    from jobs.incremental_dedup import main

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    day0 = str(tmp_path / "day0.parquet")
    day1 = str(tmp_path / "day1.parquet")
    docs.where(F.col("doc_id") % 4 != 0).write.parquet(day0)
    # make one guaranteed cross-batch near-dup: clone an old doc into
    # the new batch under a fresh id
    clone = (
        docs.where((F.col("doc_id") % 4 != 0) & (F.length("text") > 50))
        .orderBy("doc_id").limit(1)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars")
    )
    docs.where(F.col("doc_id") % 4 == 0).unionByName(clone).write.parquet(day1)

    index = str(tmp_path / "lsh_index")
    out0 = str(tmp_path / "pairs0")
    out1 = str(tmp_path / "pairs1")

    main(["--input", day0, "--index", index, "--pairs-out", out0])
    rep0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep0["index_created"] is True
    idx_rows_after0 = spark.read.parquet(index).count()
    assert idx_rows_after0 > 0

    main(["--input", day1, "--index", index, "--pairs-out", out1])
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["index_created"] is False
    # index grew by the new batch's bands
    assert spark.read.parquet(index).count() > idx_rows_after0

    pairs1 = spark.read.parquet(out1)
    # the injected clone must be caught as a cross-batch candidate
    # (identical text -> identical signature -> all bands collide)
    cross = pairs1.where(F.col("jaccard").isNull())
    assert cross.where(F.col("id_b") >= 1_000_000).count() >= 1
    # and NO pair ships twice: the within/cross split's exceptAll is
    # positional, and the USING semi-join reorders columns — a latent
    # r9 bug emitted every within-batch pair a second time as a
    # phantom NULL-jaccard "cross" row (r10 review follow-up)
    assert pairs1.groupBy("id_a", "id_b").count().where("count > 1").count() == 0


def test_incremental_dedup_job_bucketed_with_corpus(spark, tmp_path, capsys):
    """--bucketed stores the index as a CLUSTERED BY (band_id,
    band_hash) external table: batch 1 — run after the catalog forgot
    the table, as a fresh spark-submit session would — re-declares it
    on the same location, reads the bucketed layout from the files,
    and its index-side join scan carries the bucket spec (zero
    exchange on the index side).  --corpus verifies CROSS-batch pairs
    with real Jaccard instead of NULL."""
    import json

    from jobs.incremental_dedup import _index_table_name, main

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    day0 = str(tmp_path / "day0.parquet")
    day1 = str(tmp_path / "day1.parquet")
    old = docs.where(F.col("doc_id") % 4 != 0)
    old.write.parquet(day0)
    clone = (
        docs.where((F.col("doc_id") % 4 != 0) & (F.length("text") > 50))
        .orderBy("doc_id").limit(1)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars")
    )
    docs.where(F.col("doc_id") % 4 == 0).unionByName(clone).write.parquet(day1)

    index = str(tmp_path / "lsh_index_bucketed")
    out0 = str(tmp_path / "pairs0")
    out1 = str(tmp_path / "pairs1")
    INDEX_TABLE = _index_table_name(index)
    spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}")
    try:
        main(["--input", day0, "--index", index, "--pairs-out", out0,
              "--bucketed", "--n-buckets", "4"])
        rep0 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep0["index_created"] is True and rep0["bucketed"] is True
        rows0 = spark.read.table(INDEX_TABLE).count()
        assert rows0 > 0

        # emulate the next day's FRESH session: the in-memory catalog
        # forgot the table; only the files (with bucket layout) remain
        spark.sql(f"DROP TABLE {INDEX_TABLE}")
        main(["--input", day1, "--index", index, "--pairs-out", out1,
              "--bucketed", "--n-buckets", "4", "--corpus", day0])
        rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep1["index_created"] is False
        assert spark.read.table(INDEX_TABLE).count() > rows0

        # cross-batch clone pair arrives VERIFIED (jaccard = 1), not NULL
        pairs1 = spark.read.parquet(out1)
        hit = pairs1.where(F.col("id_b") >= 1_000_000).collect()
        assert hit and all(r["jaccard"] is not None and r["jaccard"] >= 0.99
                           for r in hit)

        # the production property: a join keyed on (band_id, band_hash)
        # reads the index WITHOUT an exchange on the index side
        idx = spark.read.table(INDEX_TABLE)
        probe = (
            idx.limit(10).select("band_id", "band_hash").distinct()
        )
        plan = (
            idx.hint("merge").join(probe, ["band_id", "band_hash"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {INDEX_TABLE}")
    release_all()


@pytest.mark.parametrize("seed,cap", [(11, 1), (12, 2), (13, 3), (14, 5)])
def test_compaction_equivalence_randomized(spark, seed, cap):
    """Seeded-random matrix for the compaction contract: arbitrary
    band tables, arbitrary retention, arbitrary cap — pairs against
    (compacted, frozen) must equal pairs against the fresh retained
    index in every configuration (the synthetic test pins the three
    named fates; this sweeps the space)."""
    import numpy as np

    from marker_spark.ops.dedup import compact_band_index

    rng = np.random.default_rng(seed)
    n_idx, n_new, n_buckets = 120, 25, 12
    idx_rows = [
        (int(d), int(b % 2), int(b))
        for d, b in zip(rng.integers(0, 80, n_idx),
                        rng.integers(0, n_buckets, n_idx))
    ]
    # drop duplicate (doc, band_id, band_hash) rows — a real band table
    # has one row per (doc, band)
    idx_rows = sorted(set(idx_rows))
    new_rows = sorted(set(
        (int(d) + 1000, int(b % 2), int(b))
        for d, b in zip(rng.integers(0, 20, n_new),
                        rng.integers(0, n_buckets, n_new))
    ))
    keep_ids = [int(d) for d in rng.choice(80, size=50, replace=False)]

    index = spark.createDataFrame(
        idx_rows, "doc_id long, band_id int, band_hash long"
    )
    nb = spark.createDataFrame(
        new_rows, "doc_id long, band_id int, band_hash long"
    )
    keep = spark.createDataFrame([(d,) for d in keep_ids], "doc_id long")

    compacted, frozen = compact_band_index(index, keep, max_bucket=cap)
    fresh = index.join(keep, "doc_id", "left_semi")
    got = _pairs_set(
        incremental_pairs_from_bands(compacted, nb, max_bucket=cap, frozen=frozen)
    )
    want = _pairs_set(incremental_pairs_from_bands(fresh, nb, max_bucket=cap))
    assert got == want
    release_all()


def test_double_compaction_is_conservative_only_on_frozen_buckets(spark):
    """Documented repeated-compaction semantics: a bucket frozen in
    pass 1 NEVER resurrects (its per-doc rows are gone — the tombstone
    must keep it capped even if pass-2 retention would have shrunk it
    under the cap), while every un-frozen bucket behaves exactly like a
    fresh index of the final retained set."""
    from pyspark.sql import functions as F2

    from marker_spark.ops.dedup import compact_band_index

    cap = 2
    # bucket H (0,1): docs 1-4 -> frozen in pass 1 (4 > 2).  pass-2
    # retention keeps only docs 1-2 of it: a FRESH index would have
    # size 2 <= cap and emit pairs; the tombstone keeps it capped.
    # bucket U (0,2): docs 5-8 -> also over cap in pass 1? size 4 -> to
    # keep it un-frozen in pass 1, retain only 5,6 in pass 1 (size 2).
    idx_rows = [(d, 0, 1) for d in (1, 2, 3, 4)] + [(d, 0, 2) for d in (5, 6, 7, 8)]
    index = spark.createDataFrame(idx_rows, "doc_id long, band_id int, band_hash long")

    keep1 = spark.createDataFrame(
        [(d,) for d in (1, 2, 3, 4, 5, 6)], "doc_id long"
    )
    c1, f1 = compact_band_index(index, keep1, max_bucket=cap)
    # pass 1: bucket H retained size 4 > 2 -> frozen; bucket U size 2 -> kept
    assert {(r["band_hash"], r["frozen_sz"]) for r in f1.collect()} == {(1, 4)}

    keep2 = spark.createDataFrame([(d,) for d in (1, 2, 5, 6)], "doc_id long")
    c2, f2 = compact_band_index(c1, keep2, max_bucket=cap)
    # merge tombstones the way the job does (sum per bucket)
    frozen = (
        f1.unionByName(f2)
        .groupBy("band_id", "band_hash")
        .agg(F2.sum("frozen_sz").alias("frozen_sz"))
    )

    nb = spark.createDataFrame(
        [(100, 0, 1), (101, 0, 2)], "doc_id long, band_id int, band_hash long"
    )
    got = _pairs_set(
        incremental_pairs_from_bands(c2, nb, max_bucket=cap, frozen=frozen)
    )
    # fresh index of the FINAL retained set would emit (1,100),(2,100)
    # from bucket H (size 2+1 > cap... no: joint 2+1=3 > 2 -> capped
    # there too) — choose cap so fresh WOULD emit: with cap 3 fresh
    # emits H pairs; the tombstone (frozen_sz 4) keeps H capped.
    got3 = _pairs_set(
        incremental_pairs_from_bands(c2, nb, max_bucket=3, frozen=frozen)
    )
    fresh_final = index.join(keep2, "doc_id", "left_semi")
    want3 = _pairs_set(incremental_pairs_from_bands(fresh_final, nb, max_bucket=3))
    # bucket U (never frozen) matches fresh exactly in both
    assert {p for p in got3 if 101 in p} == {p for p in want3 if 101 in p}
    # bucket H: fresh resurrects it, the tombstone conservatively keeps
    # it capped — the DOCUMENTED divergence of repeated compaction
    assert {p for p in want3 if 100 in p} == {(1, 100), (2, 100)}
    assert {p for p in got3 if 100 in p} == set()
    # at the original cap both agree (H capped either way)
    want = _pairs_set(incremental_pairs_from_bands(fresh_final, nb, max_bucket=cap))
    assert got == want
    release_all()


def test_job_corpus_gap_ships_null_not_dropped(spark, tmp_path, capsys):
    """A band can outlive its text (the window between retention and
    the next --compact): a cross-batch pair whose old doc is MISSING
    from --corpus must ship with jaccard = NULL, never vanish (r10
    review #3)."""
    from jobs.incremental_dedup import main

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.where((F.col("doc_id") % 4 != 0) & (F.length("text") > 50))
    src = base.orderBy("doc_id").limit(1)
    day0 = str(tmp_path / "day0.parquet")
    base.select("doc_id", "text").write.parquet(day0)
    clone = src.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    day1 = str(tmp_path / "day1.parquet")
    docs.where(F.col("doc_id") % 4 == 0).select("doc_id", "text") \
        .unionByName(clone).write.parquet(day1)
    # corpus store MISSING the clone's source doc
    src_id = src.collect()[0]["doc_id"]
    corpus = str(tmp_path / "corpus.parquet")
    base.where(F.col("doc_id") != src_id).select("doc_id", "text") \
        .write.parquet(corpus)

    index = str(tmp_path / "idx")
    out0, out1 = str(tmp_path / "p0"), str(tmp_path / "p1")
    main(["--input", day0, "--index", index, "--pairs-out", out0])
    main(["--input", day1, "--index", index, "--pairs-out", out1,
          "--corpus", corpus])
    capsys.readouterr()
    hit = spark.read.parquet(out1).where(
        (F.col("id_a") == src_id) & (F.col("id_b") == src_id + 1_000_000)
    ).collect()
    assert len(hit) == 1 and hit[0]["jaccard"] is None
    release_all()


def test_job_compact_bucketed_roundtrip(spark, tmp_path, capsys):
    """--compact --bucketed: INSERT OVERWRITE on the bucketed index
    table must keep the bucket layout AND the compaction semantics —
    the next bucketed dedup run matches a fresh retained index."""
    import json

    from jobs.incremental_dedup import _index_table_name, main
    from marker_spark.ops.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    day0_df = docs.where(F.col("doc_id") % 4 != 0).select("doc_id", "text")
    day0 = str(tmp_path / "day0.parquet")
    day0_df.write.parquet(day0)
    day1 = str(tmp_path / "day1.parquet")
    docs.where(F.col("doc_id") % 4 == 0).select("doc_id", "text").write.parquet(day1)

    index = str(tmp_path / "bidx")
    table = _index_table_name(index)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        main(["--input", day0, "--index", index, "--pairs-out",
              str(tmp_path / "p0"), "--bucketed", "--n-buckets", "4"])
        capsys.readouterr()
        rows0 = spark.read.table(table).count()

        keep_df = day0_df.select("doc_id").where(F.col("doc_id") % 3 != 1)
        keep = str(tmp_path / "keep.parquet")
        keep_df.write.parquet(keep)
        main(["--compact", "--keep", keep, "--index", index,
              "--bucketed", "--n-buckets", "4", "--max-bucket", "200"])
        rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["rows_after"] < rows0 == rep["rows_before"]
        # the rewritten table still scans bucketed
        idx = spark.read.table(table)
        plan = (
            idx.hint("merge")
            .join(idx.limit(5).select("band_id", "band_hash").distinct(),
                  ["band_id", "band_hash"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Bucketed: true" in plan

        # next batch over the compacted bucketed index == fresh retained
        main(["--input", day1, "--index", index, "--pairs-out",
              str(tmp_path / "p1"), "--bucketed", "--n-buckets", "4",
              "--max-bucket", "200", "--no-append"])
        capsys.readouterr()
        got = {
            (r["id_a"], r["id_b"])
            for r in spark.read.parquet(str(tmp_path / "p1")).collect()
        }
        fresh_index = lsh_band_table(
            minhash_signatures(day0_df.join(keep_df, "doc_id", "left_semi")),
            bands=32, rows_per_band=4,
        )
        new_sigs = minhash_signatures(spark.read.parquet(day1))
        want_pairs, _ = incremental_lsh_pairs(fresh_index, new_sigs, max_bucket=200)
        want = _pairs_set(want_pairs)
        new_ids = {r["doc_id"] for r in new_sigs.select("doc_id").collect()}
        want_cross = {p for p in want if (p[0] in new_ids) != (p[1] in new_ids)}
        got_cross = {p for p in got if (p[0] in new_ids) != (p[1] in new_ids)}
        assert got_cross == want_cross
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
    release_all()


def test_job_rebuild_clears_tombstones(spark, tmp_path, capsys):
    """--rebuild re-bands the corpus store and clears the frozen
    table — the only way a tombstoned bucket resurrects.  After a
    compact pass that froze buckets, rebuild from the retained corpus
    must leave zero tombstones and an index equal to banding the
    corpus fresh."""
    import json
    import os

    from jobs.incremental_dedup import _frozen_path, main
    from marker_spark.ops.dedup import minhash_signatures

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base = docs.where((F.col("doc_id") % 4 != 0) & (F.length("text") > 50))
    hot = (
        base.orderBy("doc_id").limit(1)
        .crossJoin(spark.range(5).withColumnRenamed("id", "k"))
        .select((F.col("doc_id") * 10 + F.col("k") + 2_000_000).alias("doc_id"),
                "text")
    )
    day0_df = base.select("doc_id", "text").unionByName(hot)
    day0 = str(tmp_path / "day0.parquet")
    day0_df.write.parquet(day0)

    index = str(tmp_path / "idx")
    main(["--input", day0, "--index", index, "--pairs-out",
          str(tmp_path / "p0"), "--max-bucket", "6"])
    keep_df = day0_df.select("doc_id").where(F.col("doc_id") % 10 != 3)
    keep = str(tmp_path / "keep.parquet")
    keep_df.write.parquet(keep)
    main(["--compact", "--keep", keep, "--index", index, "--max-bucket", "4"])
    capsys.readouterr()
    assert os.path.exists(_frozen_path(index))

    corpus = str(tmp_path / "corpus.parquet")
    day0_df.join(keep_df, "doc_id", "left_semi").write.parquet(corpus)
    main(["--rebuild", "--corpus", corpus, "--index", index])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["mode"] == "rebuild" and rep["tombstones_cleared"] is True
    assert not os.path.exists(_frozen_path(index))
    # rows == banding the retained corpus fresh (32 bands per doc with
    # >= 3 words; empty/short docs band to nothing)
    n_banded = minhash_signatures(
        spark.read.parquet(corpus)
    ).select("doc_id").distinct().count()
    assert rep["index_rows"] == n_banded * 32
    # the next dedup run sees zero tombstones
    day1 = str(tmp_path / "day1.parquet")
    docs.where(F.col("doc_id") % 4 == 0).select("doc_id", "text").write.parquet(day1)
    main(["--input", day1, "--index", index, "--pairs-out",
          str(tmp_path / "p1"), "--no-append"])
    rep1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep1["frozen_buckets"] == 0
    release_all()


def test_bucketed_n_buckets_mismatch_fails_loudly(spark, tmp_path, capsys):
    """The sidecar pins the bucket count: a fresh session passing a
    different --n-buckets must fail instead of silently declaring a
    wrong hash partitioning over the existing files (r11 ADVICE fix:
    a mismatched declared count makes the zero-exchange join read the
    wrong buckets and drop candidate pairs)."""
    import json

    from jobs.incremental_dedup import _index_table_name, _meta_path, main
    from marker_spark.tables import path_exists, read_text

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    day0 = str(tmp_path / "day0.parquet")
    docs.limit(50).select("doc_id", "text").write.parquet(day0)
    index = str(tmp_path / "bidx")
    try:
        main(["--input", day0, "--index", index, "--pairs-out",
              str(tmp_path / "p0"), "--bucketed", "--n-buckets", "4"])
        capsys.readouterr()
        assert path_exists(spark, _meta_path(index))
        assert json.loads(read_text(spark, _meta_path(index)))["n_buckets"] == 4
        with pytest.raises(ValueError, match="n_buckets=4"):
            main(["--input", day0, "--index", index, "--pairs-out",
                  str(tmp_path / "p1"), "--bucketed", "--n-buckets", "16"])
        # the matching count still works
        main(["--input", day0, "--index", index, "--pairs-out",
              str(tmp_path / "p2"), "--bucketed", "--n-buckets", "4",
              "--no-append"])
        capsys.readouterr()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {_index_table_name(index)}")
    release_all()


def test_compact_and_rebuild_are_mutually_exclusive(spark, tmp_path):
    from jobs.incremental_dedup import main

    with pytest.raises(SystemExit):
        main(["--compact", "--rebuild", "--keep", "x", "--corpus", "y",
              "--index", str(tmp_path / "idx")])


def test_compact_dropping_every_row_leaves_readable_index(
    spark, tmp_path, capsys
):
    """Retention that drops EVERYTHING must leave a readable index: a
    plain schema-infer read sees zero rows, and the next dedup batch
    over it runs."""
    import json

    from jobs.incremental_dedup import main

    index = str(tmp_path / "idx")
    spark.createDataFrame(
        [(d, 0, d % 5) for d in range(20)],
        "doc_id long, band_id int, band_hash long",
    ).write.parquet(index)
    keep = str(tmp_path / "keep_none.parquet")
    spark.createDataFrame([], "doc_id long").write.parquet(keep)

    main(["--compact", "--keep", keep, "--index", index])
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["rows_after"] == 0 and rep["rows_before"] == 20
    # the index stays readable by a plain schema-infer read...
    assert spark.read.parquet(index).count() == 0
    # ...and a later dedup batch over it just works
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    day1 = str(tmp_path / "day1.parquet")
    docs.limit(30).select("doc_id", "text").write.parquet(day1)
    main(["--input", day1, "--index", index, "--pairs-out",
          str(tmp_path / "p1"), "--no-append"])
    capsys.readouterr()
    release_all()


def test_corpus_conflict_prefers_batch_text(spark, tmp_path, capsys):
    """A doc_id present in both --corpus and the batch must verify
    against the BATCH text (r11 ADVICE fix: union + dropDuplicates
    kept an arbitrary row, so a re-crawled doc could verify against
    stale corpus text nondeterministically)."""
    from jobs.incremental_dedup import main

    text = "the quick brown fox jumps over the lazy dog " * 8
    batch = str(tmp_path / "batch.parquet")
    spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    ).write.parquet(batch)
    # stale corpus copy of doc 1 with unrelated text: if the corpus
    # side won the dedupe, the (1, 2) pair's jaccard would be ~0 and
    # the >= 0.7 filter would drop the pair
    corpus = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        [(1, "completely different stale words " * 10)],
        "doc_id long, text string",
    ).write.parquet(corpus)
    out = str(tmp_path / "pairs")
    main(["--input", batch, "--index", str(tmp_path / "cidx"),
          "--pairs-out", out, "--corpus", corpus])
    capsys.readouterr()
    rows = spark.read.parquet(out).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2)}
    assert rows[0]["jaccard"] == 1.0
    release_all()


@pytest.mark.parametrize("fp", [0.01, 0.5])
def test_compact_prefilter_equivalence(spark, fp):
    """prefilter_fp retention (drop-list Bloom, map-side split, exact
    rescue anti-join) must be ROW-identical to the plain semi-join
    path — same synthetic as test_compaction_equivalence_synthetic, so
    all three bucket fates are present.  fp=0.5 pushes a large
    false-positive share of the kept rows through the rescue join (the
    correctness of the split may not depend on the fp rate)."""
    from marker_spark.ops.dedup import compact_band_index

    cap = 4
    idx_rows = (
        [(d, 0, 100) for d in range(1, 7)]
        + [(d, 0, 200) for d in range(1, 4)]
        + [(d, 0, 300) for d in range(10, 15)]
        # NULL ids: never retained, on either path
        + [(None, 0, 100), (None, 0, 300)]
    )
    index = spark.createDataFrame(
        idx_rows, "doc_id long, band_id int, band_hash long"
    )
    keep = spark.createDataFrame(
        [(d,) for d in list(range(1, 7)) + [10, 11, 101, 102]], "doc_id long"
    )
    c0, f0 = compact_band_index(index, keep, max_bucket=cap)
    c1, f1 = compact_band_index(index, keep, max_bucket=cap, prefilter_fp=fp)
    key = lambda r: (r["doc_id"] or -1, r["band_id"], r["band_hash"])
    assert sorted(c1.collect(), key=key) == sorted(c0.collect(), key=key)
    assert sorted(f1.collect()) == sorted(f0.collect())
    # retention-only mode through the same split
    r0, n0 = compact_band_index(index, keep)
    r1, n1 = compact_band_index(index, keep, prefilter_fp=fp)
    assert n0 is None and n1 is None
    assert sorted(r1.collect(), key=key) == sorted(r0.collect(), key=key)
    release_all()


def test_compact_prefilter_nothing_dropped(spark):
    """keep covering every index doc short-circuits the prefilter path
    (empty drop-list): the index passes through untouched."""
    from marker_spark.ops.dedup import compact_band_index

    index = spark.createDataFrame(
        [(d, 0, 100 + d % 3) for d in range(1, 9)],
        "doc_id long, band_id int, band_hash long",
    )
    keep = spark.createDataFrame([(d,) for d in range(1, 20)], "doc_id long")
    r1, _ = compact_band_index(index, keep, prefilter_fp=0.01)
    assert sorted(r1.collect()) == sorted(index.collect())
    release_all()


@pytest.mark.parametrize("fp", [0.0, 1.0, -0.1, float("nan")])
@pytest.mark.parametrize("drops", [True, False])
def test_compact_prefilter_fp_out_of_range_rejected_up_front(
    spark, tmp_path, fp, drops
):
    """A prefilter fp outside (0, 1) is a ValueError before any Spark
    job runs, whether or not the retention would drop anything; the
    job CLI rejects it before starting a session."""
    from jobs.incremental_dedup import main
    from marker_spark.ops.dedup import compact_band_index

    index = spark.createDataFrame(
        [(d, 0, 100) for d in range(1, 9)],
        "doc_id long, band_id int, band_hash long",
    )
    keep = spark.createDataFrame(
        [(d,) for d in range(1, 5 if drops else 20)], "doc_id long"
    )
    sc = spark.sparkContext
    group = f"prefilter-fp-{fp}-{drops}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        with pytest.raises(ValueError, match="prefilter_fp"):
            compact_band_index(index, keep, prefilter_fp=fp)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        index.count()  # the probe sees jobs of this group
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # past the check, the missing --keep parquet would raise instead
    with pytest.raises(SystemExit):
        main(["--index", str(tmp_path / "idx"), "--compact",
              "--keep", str(tmp_path / "keep"),
              "--retention-prefilter-fp", str(fp)])


@pytest.mark.parametrize("delta", [-1, 0, 1])
@pytest.mark.parametrize("fp", [None, 0.5])
def test_compaction_cap_boundary_sweep(spark, delta, fp):
    """r10 verdict item 6: the joint-size cap check and the frozen_sz
    summation must agree EXACTLY at the cap boundary.  One bucket sits
    at retained size cap+delta (freezes iff delta > 0); after TWO
    compaction passes with the job's tombstone merge (sum per bucket),
    incremental pairs still match the fresh-rebuild rule at every
    boundary position, on both retention paths."""
    from marker_spark.ops.dedup import compact_band_index

    cap = 4
    size = cap + delta
    idx_rows = [(d, 0, 7) for d in range(1, size + 1)] + [
        (d, 0, 9) for d in (50, 51)
    ]
    index = spark.createDataFrame(
        idx_rows, "doc_id long, band_id int, band_hash long"
    )
    keep = spark.createDataFrame(
        [(d,) for d in list(range(1, size + 1)) + [50, 51]], "doc_id long"
    )
    c1, f1 = compact_band_index(index, keep, max_bucket=cap, prefilter_fp=fp)
    assert (f1.count() > 0) == (delta > 0)
    c2, f2 = compact_band_index(c1, keep, max_bucket=cap, prefilter_fp=fp)
    frozen = (
        f1.unionByName(f2)
        .groupBy("band_id", "band_hash")
        .agg(F.sum("frozen_sz").alias("frozen_sz"))
    )
    if delta > 0:
        # the second pass sees zero rows for the frozen bucket and must
        # NOT re-freeze it — the merged tombstone stays exactly `size`
        assert [(r["band_hash"], r["frozen_sz"]) for r in frozen.collect()] == [
            (7, size)
        ]
    nb = spark.createDataFrame(
        [(100, 0, 7), (101, 0, 9)], "doc_id long, band_id int, band_hash long"
    )
    got = _pairs_set(
        incremental_pairs_from_bands(c2, nb, max_bucket=cap, frozen=frozen)
    )
    fresh = index.join(keep, "doc_id", "left_semi")
    want = _pairs_set(incremental_pairs_from_bands(fresh, nb, max_bucket=cap))
    assert got == want
    # the boundary bucket emits pairs iff joint size+1 fits the cap
    assert ({p for p in got if 100 in p} != set()) == (size + 1 <= cap)
    # control bucket (2 + 1 <= cap) always emits
    assert {p for p in got if 101 in p} == {(50, 101), (51, 101)}
    release_all()
