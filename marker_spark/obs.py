"""Facts about a DataFrame read from the plan, at no extra Spark job.

- :class:`RowCounts` gathers a report's row counts from the actions a
  job runs anyway (``DataFrame.observe``), in place of a separate
  ``.count()`` job per reported figure.
- :func:`scan_partitions` reads how many partitions a DataFrame arrives
  in from its physical plan.  ``df.rdd.getNumPartitions()`` would
  answer too, but under AQE it first executes every shuffle stage
  upstream of the frame as hidden jobs, to learn how far AQE coalesces
  them; here that width is estimated instead.
- :func:`spread_thin` is the one "spread a thin scan" guard the
  operators share.

Imports nothing from the package, so any module can use it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class RowCounts:
    """Named row counts of DataFrames, observed on the actions that run
    them anyway.

    An observation is an accumulator.  Spark applies a result task's
    update once, but a map-stage task's update every time that task
    succeeds: a speculative copy, or a stage re-run after a lost
    executor, adds its rows twice.  Neither can happen on a local
    master (no speculation, no executor to lose), so there every frame
    is observed.  On other masters only a frame that feeds the action's
    result stage (``result_stage=True``: the frame a write writes) is
    observed, and reading any other count runs a plain ``count()``, so
    every figure is exact on every master.
    """

    #: how long :meth:`__getitem__` waits for Spark to deliver an
    #: observation before it counts the frame instead
    WAIT_S = 10.0

    def __init__(self, spark: SparkSession):
        self._observe_all = _tasks_succeed_once(spark)
        self._frames: dict[str, tuple[DataFrame, Observation | None]] = {}

    def observe(self, df: DataFrame, name: str, *, result_stage: bool = False) -> DataFrame:
        """``df``, counted by the first action that runs it.  Observe
        *before* a ``persist()``, so the cache build is what counts."""
        obs = None
        if self._observe_all or result_stage:
            obs = Observation(name)
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        self._frames[name] = (df, obs)
        return df

    def __getitem__(self, name: str) -> int:
        """Rows of ``name``: the observed count, or ``count()`` when there
        is none.  Spark delivers none when AQE drops the observed stage
        from the final plan (a join against a side that came out empty:
        the observation completes with an empty row, not a zero) or when
        no action ever ran the observed plan."""
        df, obs = self._frames[name]
        if obs is not None:
            # Observation.get would block forever on a plan no action ran
            done = obs._jo.future()
            deadline = time.monotonic() + self.WAIT_S
            while not done.isCompleted() and time.monotonic() < deadline:
                time.sleep(0.005)
            if done.isCompleted():
                row = obs._jo.getRow()
                if row.length():
                    return row.getLong(0)
        return df.count()


def _tasks_succeed_once(spark: SparkSession) -> bool:
    """True on a local master, where no task succeeds twice: Spark runs
    no speculative copies there and has no executor to lose."""
    master = spark.sparkContext.master
    return master == "local" or master.startswith("local[")


def _children(plan) -> list:
    kids = plan.children()
    return [kids.apply(i) for i in range(kids.size())]


def _is_broadcast(plan) -> bool:
    name = plan.getClass().getSimpleName()
    while name in ("InputAdapter", "ReusedExchangeExec"):
        plan = plan.child()
        name = plan.getClass().getSimpleName()
    return name in ("BroadcastExchangeExec", "BroadcastQueryStageExec")


#: shuffle origins AQE may coalesce (``CoalesceShufflePartitions``); a
#: ``repartition(n)`` keeps its n partitions
_COALESCED = {"ENSURE_REQUIREMENTS", "REPARTITION_BY_COL",
              "REBALANCE_PARTITIONS_BY_NONE", "REBALANCE_PARTITIONS_BY_COL"}


def _plan_width(plan, conf, adaptive: bool = False, cached: bool = False) -> int | None:
    """Output partitions of a physical plan, or None where a shuffle that
    AQE may still coalesce (or an unknown multi-input node) sets them."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":  # the initial plan, before any stage runs
        return _plan_width(plan.executedPlan(), conf, True, cached)
    if plan.outputPartitioning().getClass().getSimpleName() == "SinglePartition$":
        return 1  # a top-level limit, a global sort's take, a global aggregate
    if name == "InMemoryTableScanExec":
        cache = plan.relation().cacheBuilder()
        if cache.isCachedColumnBuffersLoaded():  # built: its RDD is known
            return cache.cachedColumnBuffers().getNumPartitions()
        return _plan_width(plan.relation().cachedPlan(), conf, cached=True)
    if name == "TableCacheQueryStageExec":
        return _plan_width(plan.plan(), conf, adaptive, cached)
    if name == "ShuffleExchangeExec":
        coalesced = (
            adaptive
            and conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
            and plan.shuffleOrigin().toString() in _COALESCED
            # AQE keeps a cached plan's output partitioning unless allowed
            and (not cached or conf.get(
                "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
        )
        return None if coalesced else plan.outputPartitioning().numPartitions()
    if "Exchange" in name or "QueryStage" in name:
        return None
    # a broadcast join's output is partitioned like its streamed side
    kids = [k for k in _children(plan) if not _is_broadcast(k)]
    if not kids:  # a scan: its RDD lists file splits without a job
        rdd = plan.executeColumnar() if plan.supportsColumnar() else plan.execute()
        return rdd.getNumPartitions()
    widths = [_plan_width(k, conf, adaptive, cached) for k in kids]
    if name == "CoalesceExec":
        n = plan.numPartitions()
        return n if widths[0] is None else min(n, widths[0])
    if None in widths:
        return None
    if name == "UnionExec":
        return sum(widths)
    # one input, or co-partitioned join sides
    return widths[0] if len(set(widths)) == 1 and "Cartesian" not in name else None


def scan_partitions(df: DataFrame) -> int | None:
    """Partitions ``df`` arrives in when scans, a built cache or a shuffle
    of fixed width set it, or None when a shuffle that AQE may still
    coalesce does.  Starts no Spark job."""
    return _plan_width(df._jdf.queryExecution().executedPlan(), df.sparkSession.conf)


def _coalesced_width(df: DataFrame) -> int:
    """How many partitions AQE coalesces ``df``'s last shuffle into, from
    the optimizer's size estimate of ``df``: partitions of
    ``max(minPartitionSize, min(advisory size, bytes / parallelism))``
    bytes, the parallelism dropped from the rule when
    ``coalescePartitions.parallelismFirst`` is off."""
    spark = df.sparkSession
    nbytes = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()

    def size(key: str) -> int:
        return spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get(key)
        )

    min_parts = 1
    if spark.conf.get("spark.sql.adaptive.coalescePartitions.parallelismFirst") == "true":
        min_parts = spark.sparkContext.defaultParallelism
    part = max(
        size("spark.sql.adaptive.coalescePartitions.minPartitionSize"),
        min(size("spark.sql.adaptive.advisoryPartitionSizeInBytes"), -(-nbytes // min_parts)),
        1,
    )
    return -(-nbytes // part)


def spread_thin(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over the cluster's slots when it arrives in at
    most half as many partitions (a single-row-group parquet file, a
    small shuffle output that AQE coalesces); otherwise ``df`` unchanged.
    Per-row work is partition-independent, so results do not change;
    without it the scan's one or two tasks run every stage that inherits
    its partitioning, through any persist (the span family's gram
    explode + persist on a 1-row-group sf0.1 fixture, local[32]: 5.0 s
    unspread, under 1 s spread).  Behind a shuffle that AQE may still
    coalesce, the width is AQE's rule applied to the optimizer's size
    estimate (:func:`_coalesced_width`), not a run of the shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = scan_partitions(df)
    if n is None:
        n = _coalesced_width(df)
    if n * 2 <= target:
        return df.repartition(target)
    return df
