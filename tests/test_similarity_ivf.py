"""IVF ANN tests: full-probe exactness vs brute force, and
partial-probe recall on clustered data (IVF's operating assumption)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from marker_spark.ops.similarity import (
    brute_force_topk,
    ivf_assign,
    ivf_topk,
    kmeans_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


def test_full_probe_equals_brute_force(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").head()[0]]
    cents = kmeans_centroids(emb, n_cells=8, seed=42)
    got = ivf_topk(ivf_assign(emb, cents), cents, query, k=10, nprobe=8).collect()
    want = brute_force_topk(emb, query, k=10).collect()
    assert [(r["vec_id"], r["cosine"]) for r in got] == [
        (r["vec_id"], r["cosine"]) for r in want
    ]


@pytest.fixture(scope="module")
def clustered(spark):
    """64-dim vectors in 8 well-separated gaussian clusters."""
    rng = np.random.default_rng(9)
    centers = rng.standard_normal((8, 64)) * 4.0
    rows = []
    for i in range(800):
        c = i % 8
        v = centers[c] + rng.standard_normal(64) * 0.3
        rows.append((i, v.astype(np.float32).tolist(), c))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "true_cluster"])
    return spark.createDataFrame(pdf, schema="vec_id long, embedding array<float>, true_cluster int"), centers


def test_partial_probe_recall_on_clustered_data(spark, clustered):
    """nprobe=1 on clustered data must recover (nearly) the exact top-10:
    the query sits inside one cluster, and IVF scans exactly that cell."""
    df, centers = clustered
    query = [float(x) for x in (centers[3] * 1.02)]
    cents = kmeans_centroids(df, n_cells=8, seed=7, n_iter=15)
    cells = ivf_assign(df, cents)
    exact = {r["vec_id"] for r in brute_force_topk(df, query, k=10).collect()}
    got = {r["vec_id"] for r in ivf_topk(cells, cents, query, k=10, nprobe=1).collect()}
    recall = len(exact & got) / 10.0
    assert recall >= 0.9, recall
    # and the scan fraction is bounded by the probed cell's size
    probed = cells.where(F.col("cell").isin(
        [int(np.argmax(cents @ (np.array(query) / np.linalg.norm(query))))]
    )).count()
    assert probed <= df.count() * 0.35  # ~1/8 expected, generous bound


def test_cell_assignment_follows_clusters(spark, clustered):
    """k-means cells must align with the planted clusters: vectors of
    one true cluster land (almost) entirely in one cell."""
    df, _ = clustered
    cents = kmeans_centroids(df, n_cells=8, seed=7, n_iter=15)
    cells = ivf_assign(df, cents).select("true_cluster", "cell").toPandas()
    purity = (
        cells.groupby("true_cluster")["cell"]
        .agg(lambda s: s.value_counts().iloc[0] / len(s))
        .min()
    )
    assert purity >= 0.95, purity


def test_kmeans_degenerate_inputs(spark):
    """Constant / single-vector / empty samples must not crash k-means++
    seeding (ADVICE r2: d2 all-zero made rng.choice raise)."""
    const = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(10), "embedding": [[1.0, 0.0, 0.0]] * 10}),
        schema="vec_id long, embedding array<float>",
    )
    cents = kmeans_centroids(const, n_cells=4, seed=1)
    assert 1 <= len(cents) <= 4
    # assignment + full-probe topk still work with the reduced cell count
    got = ivf_topk(ivf_assign(const, cents), cents, [1.0, 0.0, 0.0], k=3,
                   nprobe=len(cents)).collect()
    assert len(got) == 3

    single = spark.createDataFrame(
        pd.DataFrame({"vec_id": [0], "embedding": [[0.5, 0.5]]}),
        schema="vec_id long, embedding array<float>",
    )
    cents = kmeans_centroids(single, n_cells=4, seed=1)
    assert len(cents) == 1

    empty = spark.createDataFrame([], schema="vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        kmeans_centroids(empty, n_cells=4, seed=1)


# ---- assign_cells_expr <-> ivf_assign cross-parity (verdict r7 #3) ----
#
# Same contract, two engines: the Catalyst-expression sibling that the
# semdedup oracle replays in DuckDB, and the Arrow-numpy sibling used in
# hot loops.  They must assign identical cells wherever the contract is
# well-defined.  The one legitimate divergence window: assign_cells_expr
# rounds dots to 6 decimals before the argmax (for cross-engine replay),
# so a top-two gap inside ~1e-6 can flip — the property assumes that
# window away (it is the same measure-~1e-10 risk class the semdedup
# docstring documents) while still exercising EXACT ties (duplicate
# centroids, vector==centroid), NULL vectors, zero vectors, and
# non-unit scaling (ivf_assign normalizes, the expr does not — argmax
# is scale-invariant so they must still agree).

from hypothesis import assume, given, settings
from hypothesis import strategies as st

from marker_spark.ops.dedup import assign_cells_expr


@settings(max_examples=8, deadline=None)
@given(
    seed=st.integers(0, 2**31 - 1),
    dim=st.integers(2, 6),
    k=st.integers(1, 5),
    n=st.integers(1, 8),
    dup_centroid=st.booleans(),
)
def test_assign_cells_expr_matches_ivf_assign(spark, seed, dim, k, n, dup_centroid):
    rng = np.random.default_rng(seed)
    cents = rng.normal(size=(k, dim))
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    if dup_centroid and k >= 2:
        cents[1] = cents[0]  # exact-tie cell pair: first index must win

    vecs: list[list[float] | None] = []
    for i in range(n):
        kind = rng.integers(0, 4)
        if kind == 0:
            vecs.append(None)  # NULL vector -> cell 0 in both
        elif kind == 1:
            vecs.append([0.0] * dim)  # zero vector -> cell 0 in both
        elif kind == 2:
            # exact centroid copy at a non-unit positive scale:
            # hits the exact-tie + scale-invariance paths together
            vecs.append([float(x) for x in cents[rng.integers(k)] * rng.uniform(0.5, 3.0)])
        else:
            vecs.append([float(x) for x in rng.normal(size=dim) * rng.uniform(0.1, 3.0)])

    # assume away the documented sub-1e-6 near-tie window: for every
    # non-null row the exact-max group must lead the next DISTINCT dot
    # by > 2e-6 (rounding to 6dp perturbs each dot by <= 5e-7, so a
    # larger gap can neither flip the argmax nor forge a new tie)
    for v in vecs:
        if v is None:
            continue
        d = cents @ np.asarray(v, dtype=np.float64)
        m = d.max()
        rest = d[d < m]
        assume(len(rest) == 0 or m - rest.max() > 2e-6)

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": vecs}),
        schema="vec_id long, embedding array<double>",
    )
    both = ivf_assign(
        assign_cells_expr(df, cents).withColumnRenamed("cell", "cell_expr"), cents
    )
    rows = both.select("vec_id", "cell_expr", "cell").collect()
    assert len(rows) == n
    for r in rows:
        assert r["cell_expr"] == r["cell"], (
            f"vec {r['vec_id']}: expr={r['cell_expr']} ivf={r['cell']} "
            f"(seed={seed} dim={dim} k={k})"
        )


def test_stack_embeddings_zeroes_null_and_ragged_rows():
    """One reshape of the rows of length ``dim``: the null, short and
    long rows of a sliced array keep their place as zero vectors."""
    import pyarrow as pa

    from marker_spark.ops.similarity import _stack_embeddings

    arr = pa.array([[9.0, 9.0], [1.0, 2.0], None, [3.0], [4.0, 5.0, 6.0], [7.0, 8.0]],
                   type=pa.list_(pa.float32())).slice(1)
    np.testing.assert_array_equal(
        _stack_embeddings(arr, 2), [[1, 2], [0, 0], [0, 0], [0, 0], [7, 8]]
    )
    assert _stack_embeddings(pa.array([], type=pa.list_(pa.float64())), 3).shape == (0, 3)
