"""Storage-memory discipline: a full sweep of persist-using queries must
leave no net persisted RDDs behind once the session owner releases the
registered handles (VERDICT r2 "what's wrong" #3)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # this checkout's root

SF_DIR = "/root/testdata/sf0.001"


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_no_persistent_rdd_leak_across_query_sweep(spark):
    import __spark_entry__ as E
    from marker_spark.cacheutil import live_count, release_all

    release_all()
    base = _n_persisted(spark)
    names = [
        "minhash_lsh_pairs",     # persists the banded table (capped swap)
        "simhash_near_dup",      # persists the simhash band table
        "winnowing_dups",        # persists the fingerprint table
        "flagship_bloom_by_source",  # caches the tokenized corpus
        "cms_heavy_tokens",      # caches the tokenized corpus
        "mg_heavy_words",        # caches the exploded word table
        # connected components: persists the edge table and
        # local-checkpoints every round
        "dedup_clusters",
        "dedup_clusters_logstar",
        "canonical_selection",
    ]
    Q = E.queries()
    for name in names:
        Q[name](spark, SF_DIR).collect()
        assert live_count() > 0, f"{name} registered no cached handles"
        release_all()
        assert _n_persisted(spark) == base, f"{name} leaked persisted RDDs"


def test_release_all_is_idempotent_and_safe_before_use(spark):
    from marker_spark.cacheutil import release_all

    release_all()
    assert release_all() == 0
