"""Structural guards on the driver contract: the round-4 lesson was
that oracle-bearing queries falling outside the driver's ~50-entry
correctness window silently lose their driver-side certification, so
the ordering invariant is now a test, not a convention."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))  # this checkout's root

DRIVER_WINDOW = 50


def test_every_oracle_query_sits_inside_the_driver_window():
    import __spark_entry__ as E

    q_keys = list(E.queries())
    oracle_keys = set(E.oracle_sql())
    missing = oracle_keys - set(q_keys)
    assert not missing, f"oracle_sql keys without a queries() entry: {missing}"
    window = set(q_keys[:DRIVER_WINDOW])
    outside = oracle_keys - window
    assert not outside, (
        f"exact-oracle queries outside the first {DRIVER_WINDOW} entries "
        f"(driver would not certify them): {outside}"
    )


def test_probe_vector_fails_loudly_on_degenerate_fixture(spark, tmp_path):
    """Every similarity query probes one embedding off the fixture; on a
    degenerate table (empty, or the probed vec_id missing) the failure
    must name the table/row, not raise a bare NoneType subscript
    (verdict r8 item 3 — the `:360` guard pattern, now shared)."""
    import pytest

    import __spark_entry__ as E

    sf_dir = str(tmp_path)
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    empty.write.parquet(f"{sf_dir}/embeddings.parquet")
    with pytest.raises(AssertionError, match="vec_id=0"):
        E.q_knn_bruteforce(spark, sf_dir)
    with pytest.raises(AssertionError, match="embeddings table"):
        E._probe_vector(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))


def test_rows_only_queries_follow_oracle_bearing_ones():
    import __spark_entry__ as E

    q_keys = list(E.queries())
    oracle_keys = set(E.oracle_sql())
    first_rows_only = next(i for i, k in enumerate(q_keys) if k not in oracle_keys)
    stragglers = [k for k in q_keys[first_rows_only:] if k in oracle_keys]
    assert not stragglers, (
        f"oracle-bearing entries interleaved after the first rows-only "
        f"entry: {stragglers}"
    )
