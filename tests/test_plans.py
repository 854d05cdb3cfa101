"""Physical-plan assertions: the Catalyst behaviors the engine relies
on at scale must actually appear in the plans — predicate pushdown,
column pruning, broadcast joins, whole-stage codegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_and_column_pruning(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    q = ev.where(F.col("event_type") == "click").select("user_id", "value")
    plan = _plan(q)
    assert "PushedFilters" in plan and "event_type" in plan.split("PushedFilters")[1].split("\n")[0]
    # ReadSchema must not include unused columns like props
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "props" not in read_schema and "user_id" in read_schema


def test_broadcast_join_for_small_dim(spark):
    import __spark_entry__ as entrymod

    q = entrymod.q_top_customers(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, "customer dim should broadcast"


def test_partial_aggregation_before_shuffle(spark):
    """Map-side combine must happen before the exchange — at scale the
    shuffle carries partial states, not raw rows.  (AQE hides
    WholeStageCodegen markers in pre-execution formatted plans, so we
    assert the aggregation shape instead.)"""
    import __spark_entry__ as entrymod

    import re

    q = entrymod.q_pricing_summary(spark, SF_DIR)
    plan = _plan(q)
    assert "partial_sum" in plan
    # the TREE (top-down) must read final-agg -> Exchange -> partial-agg
    # -> scan: the partial aggregate sits BELOW the shuffle
    tree = plan.split("\n\n")[0]
    assert re.search(
        r"HashAggregate.*Exchange.*HashAggregate.*Scan parquet", tree, re.S
    ), tree


def test_bucket_overlap_predicate_prunes(spark):
    """The cache's bucket-overlap lookup is a Catalyst-native range
    predicate -> parquet row-group pruning via min/max stats."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    lo, hi = "2024-01-05", "2024-01-08"
    q = ev.where((F.col("ts") >= lo) & (F.col("ts") <= hi)).select("event_id")
    plan = _plan(q)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "GreaterThanOrEqual" in pushed and "LessThanOrEqual" in pushed


def test_topk_uses_takeordered(spark):
    import __spark_entry__ as entrymod

    q = entrymod.q_top_words(spark, SF_DIR)
    plan = _plan(q)
    assert "TakeOrderedAndProject" in plan, "limit+orderBy should not global-sort"


def test_bpe_token_count_scan_prunes_columns(spark):
    """The BPE-ish token count is a pure Catalyst regex: its scan must
    read only (text, source), never the full document row."""
    import __spark_entry__ as E

    plan = _plan(E.queries()["bpe_token_counts"](spark, SF_DIR))
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "text" in read_schema and "source" in read_schema
    assert "doc_id" not in read_schema and "n_chars" not in read_schema


def test_ivf_cell_filter_is_in_list(spark):
    """ivf_topk's cell restriction must appear as an IN-list filter —
    the predicate that becomes partition pruning when the table is
    written partitioned by cell."""
    import numpy as np
    from marker_spark.ops.similarity import ivf_assign, ivf_topk, kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    cents = kmeans_centroids(emb, n_cells=8, seed=42)
    plan = _plan(ivf_topk(ivf_assign(emb, cents), cents, query, k=10, nprobe=2))
    assert "cell" in plan and (" IN (" in plan or "cell#" in plan)
    assert "TakeOrderedAndProject" in plan  # top-k stays a bounded heap


def test_signature_ops_run_as_map_in_arrow(spark):
    """MinHash/SimHash/winnowing must enter Python via MapInArrow (flat
    buffer access), never ArrowEvalPython over a list-typed column (one
    Python object per row — the CLAUDE.md gotcha)."""
    from marker_spark.ops.dedup import minhash_signatures, simhash_fingerprints
    from marker_spark.ops.text import winnowing_fingerprints

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for q in (
        minhash_signatures(docs, num_perm=16, shingle=3),
        simhash_fingerprints(docs, shingle=2),
        winnowing_fingerprints(docs, k=8, window=4),
    ):
        plan = _plan(q)
        assert "MapInArrow" in plan, plan[:500]
        assert "ArrowEvalPython" not in plan


def test_tfidf_no_cartesian_product(spark):
    """The 1-row corpus count joins via broadcast nested loop, never a
    CartesianProduct; the vocabulary join stays a keyed join."""
    from marker_spark.ops.text import tfidf_top_terms

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(tfidf_top_terms(docs, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_probe_plan_carries_no_sketch_bytes(spark):
    """The read side must never put the serialized sketch column into
    the probe plan: states ship once per executor via broadcast and the
    UDF keys into them by group columns, so per-probe-row data movement
    is O(row), not O(state_bytes) (the round-3 measured scale-killer).
    The ungrouped self-probe is the same probe with zero keys."""
    import __spark_entry__ as entrymod
    from marker_spark.cacheutil import release_all

    for name in ("sketch_table_probe", "bloom_ngram_membership"):
        plan = _plan(entrymod.queries()[name](spark, SF_DIR))
        release_all()
        assert "Join" not in plan, f"{name}: probe must not join the sketch table"
        assert "sketch#" not in plan, f"{name}: sketch binary column leaked into the probe plan"
        assert "ArrowEvalPython" in plan, name  # the keyed membership UDF


def test_decontamination_broadcasts_benchmark_grams(spark):
    """The benchmark-SHINGLE side must broadcast: assert the semi-join
    keyed on the gram column specifically — a generic 'BroadcastHashJoin
    + LeftSemi somewhere' would be satisfied by the tiny doc-id joins
    and could not fail if the grams join degraded to sort-merge."""
    import re

    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["decontamination"](spark, SF_DIR))
    # the one LeftSemi must be keyed on the gram column (formatted mode
    # lists keys in the join's own section)
    assert "Join type: LeftSemi" in plan
    assert re.search(r"Left keys \[1\]: \[g#\d+\]", plan), plan[:2000]
    assert "SortMergeJoin" not in plan, "corpus-sided shuffle join crept in"


def test_exact_dedup_exchange_carries_no_text(spark):
    """exact_dedup_scalable's groupBy shuffle must move digest+id only —
    document text may appear in the scan and the final representative
    join, never in an Exchange above the aggregation (the 100 TB-shape
    invariant the scalable fold guarantees)."""
    from marker_spark.ops.dedup import exact_dedup_scalable

    import re

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(exact_dedup_scalable(docs).select("text", "doc_id", "dup_count"))
    # every hashpartitioning spec in the plan keys on the digest or the
    # id — none mentions the text column (formatted mode puts the spec
    # on the Exchange node's Arguments line)
    keyspecs = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keyspecs, f"expected at least one shuffle in the dedup plan\n{plan[:1500]}"
    for keyspec in keyspecs:
        assert "text" not in keyspec, keyspec


def test_entry_exact_dedup_no_expand_no_text_exchange(spark):
    """The DRIVER entry query (not just the library op) must use the
    two-level groupBy: countDistinct(text)+count(*) in one agg plans an
    EXPAND doubling rows pre-shuffle and ships full text bytes through
    the exchange — a 100 TB scale-killer even while oracle-green."""
    import re

    import __spark_entry__ as entrymod

    plan = _plan(entrymod.q_exact_dedup(spark, SF_DIR))
    assert "Expand" not in plan, "countDistinct EXPAND crept back in"
    keyspecs = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keyspecs, f"expected at least one shuffle\n{plan[:1500]}"
    for keyspec in keyspecs:
        assert not re.search(r"\btext#", keyspec), keyspec


def test_boilerplate_hot_grams_broadcast(spark):
    """boilerplate_spans' scale contract: the bounded hot-gram table
    BROADCASTS into the occurrence join — a corpus-sided shuffle join
    on the gram key would re-create the hot-key exchange the operator
    exists to avoid."""
    from marker_spark.ops.dedup import boilerplate_spans

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(boilerplate_spans(docs, k=24, min_len=40, max_df=16))
    # the DF-count aggregation legitimately exchanges on g; the
    # occurrence join must be the broadcast (these two assertions carry
    # the invariant — a keyspec scan can't tell the legit g-keyed agg
    # exchange from a degraded occurrence-side one)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, "gram join degraded to shuffle"


def test_lm_scoring_broadcasts_reference_counts(spark):
    """The bigram-LM scorer must stream the corpus through BROADCAST
    joins against the bounded reference count tables — a corpus-sided
    shuffle join on a text key would not survive 100 TB."""
    import __spark_entry__ as entrymod

    q = entrymod.q_lm_quality_perplexity(spark, SF_DIR)
    plan = _plan(q)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1500]
    assert "SortMergeJoin" not in plan, "corpus-sided shuffle join crept in"


def test_dsir_plan_broadcasts_ratio_and_takeordered_selection(spark):
    """DSIR's 100 TB contract: the B-row log-ratio table BROADCASTS
    into the corpus gram stream (no shuffle join on a text/bucket key),
    and Gumbel top-k selection plans TakeOrderedAndProject, not a
    global sort."""
    import __spark_entry__ as entrymod

    q = entrymod.q_dsir_selection(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, "corpus-sided shuffle join crept in"
    assert "TakeOrderedAndProject" in plan, "selection should heap, not sort"


def test_temporal_and_packing_windows_never_single_partition(spark):
    """The accidental-serialization trap: a window (or prefix sum) with
    no partition key plans an Exchange SinglePartition and runs the
    whole corpus through one task.  Every temporal/packing query must
    stay key- or range-partitioned."""
    import __spark_entry__ as E

    for name in ("asof_join", "sessionization", "interval_join", "sequence_packing"):
        plan = _plan(E.queries()[name](spark, SF_DIR))
        assert "SinglePartition" not in plan, f"{name} serializes onto one task"


def test_incremental_dedup_fast_index_joins_broadcast(spark):
    """The production incremental path must never shuffle the index:
    both pair legs are broadcast-hash joins (broadcast_new=True) and
    no sort-merge join appears anywhere in the plan."""
    import __spark_entry__ as entrymod
    from marker_spark.cacheutil import release_all

    q = entrymod.q_incremental_dedup_fast(spark, SF_DIR)
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    release_all()


def test_canonical_selection_single_window_no_self_join(spark):
    """The keep-best argmax is ONE window (full-frame first()), not a
    rank + self-join: exactly one Window node over the component key,
    and no join after it."""
    from marker_spark.ops.dedup import canonical_selection

    df = spark.createDataFrame(
        [(1, 10, 0.5), (2, 10, 0.9), (3, 11, 0.1)],
        "doc_id long, component long, score double",
    )
    out = canonical_selection(df)
    plan = _plan(out)
    assert plan.count("Window") >= 1
    # the operator itself adds no join (its input here is a local scan)
    assert "Join" not in plan


def test_compaction_reclaim_and_frozen_fold_stay_broadcast(spark):
    """compact_band_index's degenerate-bucket anti-join and the frozen
    fold inside the cap check must both BROADCAST their bounded side
    (O(degenerate buckets) rows) — the full index never shuffles for
    either, which is what makes the maintenance pass a map-side rewrite
    at 100 TB."""
    from marker_spark.cacheutil import release_all
    from marker_spark.ops.dedup import (
        compact_band_index,
        incremental_pairs_from_bands,
    )

    index = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        (F.col("id") % 20).alias("band_hash"),
    )
    keep = spark.range(150).select(F.col("id").alias("doc_id"))
    compacted, frozen = compact_band_index(index, keep, max_bucket=5)
    plan = _plan(compacted)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan

    nb = spark.range(300, 310).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        (F.col("id") % 20).alias("band_hash"),
    )
    pairs = incremental_pairs_from_bands(
        compacted, nb, max_bucket=5, frozen=frozen
    )
    plan2 = _plan(pairs)
    # the frozen join inside the `ok` bucket filter is a broadcast —
    # no sort-merge anywhere in the cap machinery
    assert "SortMergeJoin" not in plan2
    release_all()


@pytest.mark.parametrize("name", ["flagship_bloom_by_source", "hll_distinct_ngrams"])
def test_sketch_builds_enter_python_via_map_in_arrow(spark, name):
    """sketch_agg's partial build hands whole Arrow batches to Python
    (MapInArrow); no pandas conversion of the list-typed token column
    (MapInPandas) may sit in the plan."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()[name](spark, SF_DIR))
    assert "MapInArrow" in plan, plan[:1500]
    assert "MapInPandas" not in plan


def test_api_agg_ships_only_the_columns_it_reads(spark, tokseq_path):
    """``kll_agg`` hands the Python partial build only the group and
    value columns: the MapInArrow node's input is exactly
    [source, n_tok], not the tokens arrays it would ignore.  The
    columns go in under positional names, so each is read through its
    alias in the projection below the node."""
    from marker_spark.api import kll_agg

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    found = []

    def walk(node):
        if node.nodeName() == "MapInArrow":
            found.append([e.child().name() for e in seq(node.child().projectList())])
        for child in seq(node.children()):
            walk(child)

    df = kll_agg(spark.read.parquet(tokseq_path), "n_tok", group_cols=["source"])
    walk(df._jdf.queryExecution().sparkPlan())
    assert found == [["source", "n_tok"]], found


@pytest.mark.parametrize("name", ["embedding_near_dup", "semdedup"])
def test_embedding_pair_cosines_run_in_grouped_arrow(spark, name):
    """Blocked pair cosines come from one grouped numpy pass per block
    (FlatMapGroupsInArrow), never from a self-join evaluating per-pair
    Catalyst higher-order functions."""
    import __spark_entry__ as entrymod
    from marker_spark.cacheutil import release_all

    plan = _plan(entrymod.queries()[name](spark, SF_DIR))
    release_all()
    assert "FlatMapGroupsInArrow" in plan, plan[:1500]
    if name == "embedding_near_dup":
        assert "Join" not in plan, plan[:1500]
        assert "zip_with" not in plan
