"""marker_spark.obs: observed row counts and the job-free partition probe."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

import marker_spark.obs as obs
from marker_spark.obs import RowCounts, scan_partitions, spread_thin



@contextlib.contextmanager
def _jobs(spark, group):
    """Yields a list that holds the job ids of ``group`` on exit."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def docs_path(tmp_path_factory):
    """One parquet file with one row group: a one-partition scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path_factory.mktemp("obs") / "docs.parquet"
    n = 300
    pq.write_table(pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "source": pa.array([f"s{i % 4}" for i in range(n)]),
        "text": pa.array([f"doc {i % 250} text" for i in range(n)]),
    }), str(p))
    return str(p)


@pytest.fixture
def docs(spark, docs_path):
    return spark.read.parquet(docs_path)


@contextlib.contextmanager
def _conf(spark, **kv):
    old = {k: spark.conf.get(k) for k in kv}
    for k, v in kv.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_thin_scan_is_still_spread(spark, docs):
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() * 2 <= target
    assert scan_partitions(docs) == docs.rdd.getNumPartitions()
    assert spread_thin(docs).rdd.getNumPartitions() == target
    assert spread_thin(docs.union(docs).coalesce(1)).rdd.getNumPartitions() == target
    # a broadcast join is partitioned like its streamed side
    small = F.broadcast(docs.select("doc_id").limit(5))
    assert scan_partitions(docs.join(small, "doc_id")) == 1
    wide = docs.repartition(target)
    assert spread_thin(wide) is wide
    # a top-level limit and a global sort's take give one partition
    for one in (wide.limit(5), wide.orderBy("text").limit(5)):
        assert scan_partitions(one) == 1
        assert spread_thin(one).rdd.getNumPartitions() == target


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_built_cache_is_read_by_its_width(request, spark, docs, aqe):
    """A cache that is already built reports the width of its RDD, even
    when a shuffle made it, without a job: a thin one is still spread."""
    with _conf(spark, **{"spark.sql.adaptive.enabled": aqe}):
        thin = docs.groupBy("source").count().coalesce(1).persist()
        wide = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id").persist()
        try:
            thin.count(), wide.count()
            with _jobs(spark, request.node.name) as ids:
                assert scan_partitions(thin) == 1
                assert scan_partitions(wide) == spark.sparkContext.defaultParallelism
                assert spread_thin(wide) is wide
                spread = spread_thin(thin)
            assert ids == []
            assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        finally:
            thin.unpersist()
            wide.unpersist()


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_shuffled_frame_starts_no_job(request, spark, docs, aqe):
    """``df.rdd.getNumPartitions()`` on a shuffled frame runs the
    upstream shuffle stages under AQE to learn how far they coalesce.
    The probe runs nothing: without AQE it reads the exchange's width,
    under AQE it applies AQE's coalescing rule to the size estimate."""
    target = spark.sparkContext.defaultParallelism
    with _conf(spark, **{"spark.sql.adaptive.enabled": aqe}):
        small = docs.groupBy("source").count()  # 4 rows
        # not built yet; AQE keeps a cached plan's output partitioning
        cached = docs.groupBy("doc_id").count().persist()
        fixed = docs.repartition(target, "doc_id")  # AQE keeps a repartition(n)
        try:
            with _jobs(spark, request.node.name) as ids:
                if aqe == "true":
                    assert scan_partitions(small) is None
                    assert obs._coalesced_width(small) == 1
                    spread = spread_thin(small)
                else:
                    assert scan_partitions(small) == 8  # spark.sql.shuffle.partitions
                    assert spread_thin(small) is small
                assert scan_partitions(cached) == 8
                assert spread_thin(cached) is cached
                assert scan_partitions(fixed) == target
                assert spread_thin(fixed) is fixed
            assert ids == []
            # the widths AQE really gives them
            assert cached.rdd.getNumPartitions() == 8
            if aqe == "true":
                assert small.rdd.getNumPartitions() == 1
                assert spread.rdd.getNumPartitions() == target
            with _jobs(spark, request.node.name + "-probe") as ids:
                small.count()  # the probe sees jobs of this group
            assert ids
        finally:
            cached.unpersist()


def test_coalesce_estimate_follows_size(spark, docs, monkeypatch):
    """Many bytes coalesce to the cluster's width, few to fewer."""
    target = spark.sparkContext.defaultParallelism

    class Stats:
        def __init__(self, n):
            self.n = n

        def sizeInBytes(self):
            return self.n

    def with_size(n):
        class QE:
            def optimizedPlan(self):
                return type("P", (), {"stats": lambda self: Stats(n)})()

        df = docs.groupBy("source").count()
        monkeypatch.setattr(df._jdf, "queryExecution", lambda: QE(), raising=False)
        return df

    mb = 1 << 20
    assert obs._coalesced_width(with_size(100)) == 1
    assert obs._coalesced_width(with_size(3 * mb // 2)) == 2
    assert obs._coalesced_width(with_size(4 * target * mb)) == target
    # partitions of at most the advisory size (64 MB)
    assert obs._coalesced_width(with_size(640 * mb)) == 10


@pytest.mark.parametrize("reuse", ["true", "false"])
def test_observed_self_join_counts_once(spark, docs, tmp_path, reuse):
    """The dedup pipeline's shape: an observed scan under a spread (an
    exchange both join sides read) and an observed filter above it, both
    read by the two sides of ``exact_dedup_scalable``'s self-join, are
    each counted once, whether or not the sides share the exchange."""
    with _conf(spark, **{"spark.sql.exchange.reuse": reuse}):
        counts = RowCounts(spark)
        scan = counts.observe(docs, "scan")
        kept = counts.observe(scan.repartition(4).where(F.col("doc_id") % 3 != 0), "kept")
        reps = kept.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
        kept.join(reps, "doc_id").write.mode("overwrite").parquet(str(tmp_path / "o"))
        assert counts["scan"] == docs.count()
        assert counts["kept"] == docs.where(F.col("doc_id") % 3 != 0).count()


def test_observed_before_persist_counts_the_cache_build(request, spark, docs):
    counts = RowCounts(spark)
    pairs = counts.observe(docs.where(F.col("doc_id") % 2 == 0), "pairs").persist()
    try:
        pairs.groupBy("source").count().collect()  # builds the cache
        with _jobs(spark, request.node.name) as ids:
            n = counts["pairs"]
        assert ids == []
        assert n == docs.where(F.col("doc_id") % 2 == 0).count()
    finally:
        pairs.unpersist()


def test_observation_dropped_by_aqe_falls_back_to_count(spark, docs, tmp_path):
    """AQE replaces a left-anti join against an empty side with the
    left side; the stage holding the observation drops out of the plan
    and Spark completes the observation with an empty row."""
    with _conf(spark, **{"spark.sql.adaptive.enabled": "true"}):
        counts = RowCounts(spark)
        drop = counts.observe(docs.where(F.col("doc_id") < 0).select("doc_id"), "drop")
        docs.join(drop.distinct(), "doc_id", "left_anti").write.mode("overwrite").parquet(
            str(tmp_path / "o")
        )
        assert counts._frames["drop"][1]._jo.getRow().length() == 0
        assert counts["drop"] == 0


def test_plan_no_action_ran_is_counted_not_awaited(spark, docs, monkeypatch):
    """``Observation.get`` blocks forever when no action ran the plan;
    the count is taken with a plain action after a bounded wait."""
    monkeypatch.setattr(RowCounts, "WAIT_S", 0.2)
    counts = RowCounts(spark)
    counts.observe(docs, "never_run")
    assert counts["never_run"] == docs.count()


def test_off_local_master_only_the_result_stage_is_observed(request, spark, docs, tmp_path,
                                                            monkeypatch):
    """Off a local master a map-stage task can succeed twice (a
    speculative copy, a re-run after a lost executor), and Spark adds an
    accumulator update per success: only a frame that feeds the write's
    result stage is observed there, every other count is a plain one."""
    monkeypatch.setattr(obs, "_tasks_succeed_once", lambda spark: False)
    counts = RowCounts(spark)
    src = counts.observe(docs, "src")
    assert src is docs
    out = counts.observe(src.where(F.col("doc_id") % 2 == 0), "out", result_stage=True)
    out.write.mode("overwrite").parquet(str(tmp_path / "o"))
    with _jobs(spark, request.node.name) as ids:
        assert counts["out"] == 150
    assert ids == []
    with _jobs(spark, request.node.name + "-src") as ids:
        assert counts["src"] == 300
    assert ids
