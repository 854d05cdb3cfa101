"""Similarity search over embedding columns (array<float>).

 * Brute-force cosine top-k: exact baseline — JVM-side dot products
   (zip_with/aggregate), no Python in the scoring loop; a broadcast of
   the query vector keeps it a narrow map + top-k (TakeOrderedAndProject).
 * LSH-bucketed ANN: random-hyperplane signatures (deterministic
   seed) assign each vector to a Hamming bucket; queries probe only
   matching (and optionally neighboring) buckets — the scale path where
   brute force would scan 100 TB.
 * IVF ANN: a driver-side k-means coarse quantizer (tiny: n_cells × dim,
   trained on a bounded sample, broadcast in UDF closures) assigns each
   vector to its nearest-centroid cell; queries scan only the nprobe
   nearest cells.  With the table written partitioned/bucketed by
   `cell`, the cell filter is a partition-pruning IN-list — the
   standard FAISS-style inverted-file layout expressed relationally.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import arrow_list_view


def _stack_embeddings(vecs: pa.Array, dim: int) -> np.ndarray:
    """[N, dim] float64 matrix from an array<float> column: one reshape
    of the rows whose length is ``dim``; null and ragged rows become
    zero vectors (a deterministic bucket/cell, never a task-killing
    error on one bad row)."""
    flat, offsets = arrow_list_view(vecs)
    lens = np.diff(offsets)
    ok = (lens == dim) & vecs.is_valid().to_numpy(zero_copy_only=False)
    out = np.zeros((len(vecs), dim), dtype=np.float64)
    out[ok] = flat[np.repeat(ok, lens)].reshape(-1, dim)
    return out


def _cosine_to_query(vec_col, query: list[float]):
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    qlit = F.array(*[F.lit(float(x)) for x in q])
    v = F.transform(vec_col, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(v, qlit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x)
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return dot / (norm * F.lit(qn))


def brute_force_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k: narrow scan + orderBy/limit (Spark plans it
    as TakeOrderedAndProject — per-partition heaps, no full sort)."""
    cos = _cosine_to_query(F.col(vec_col), query)
    return (
        df.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def hyperplane_signatures(
    df: DataFrame,
    dim: int,
    n_planes: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Adds `bucket: long` — sign pattern against n random hyperplanes.

    Arrow-batched numpy matmul; the plane matrix is baked into the UDF
    closure (tiny: dim x n_planes).
    """
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))

    @F.arrow_udf("long")
    def bucket_udf(vecs: pa.Array) -> pa.Array:
        mat = _stack_embeddings(vecs, dim)  # [N, dim], null rows -> zeros
        signs = (mat @ planes) > 0  # [N, n_planes]
        weights = (1 << np.arange(n_planes, dtype=np.int64))[None, :]
        return pa.array((signs * weights).sum(axis=1))

    return df.withColumn("bucket", bucket_udf(F.col(vec_col)))


def kmeans_centroids(
    df: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    n_iter: int = 10,
    max_sample: int = 100_000,
) -> np.ndarray:
    """Train the IVF coarse quantizer: seeded Lloyd iterations on a
    BOUNDED sample (driver-side numpy — the quantizer is n_cells × dim
    floats, the one structure that legitimately lives on the driver).
    Vectors are L2-normalized so nearest-centroid = max cosine.
    At corpus scale the sample fraction shrinks; the quantizer cost is
    independent of corpus size."""
    n_total = df.count()
    fraction = min(1.0, max_sample / max(n_total, 1))
    sample = df.select(vec_col)
    if fraction < 1.0:
        sample = sample.sample(withReplacement=False, fraction=fraction, seed=seed)
    vals = sample.toPandas()[vec_col].to_numpy()
    if len(vals) == 0:
        raise ValueError("kmeans_centroids: embedding table/sample is empty")
    mat = np.stack(vals).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    k = min(n_cells, len(mat))
    # k-means++ seeding (deterministic): spread initial centroids by
    # sampling proportional to squared cosine distance to the nearest
    # seed so far — avoids the split/dead-cluster local optima of
    # uniform init.
    cents = np.empty((k, mat.shape[1]), dtype=np.float64)
    cents[0] = mat[rng.integers(len(mat))]
    d2 = np.maximum(1.0 - mat @ cents[0], 0.0) ** 2
    for c in range(1, k):
        s = float(d2.sum())
        if s <= 0.0:
            # every sampled vector coincides with an existing seed
            # (constant table): further centroids would duplicate, so
            # return the distinct ones found — callers size nprobe off
            # len(centroids).
            cents = cents[:c]
            break
        cents[c] = mat[rng.choice(len(mat), p=d2 / s)]
        d2 = np.minimum(d2, np.maximum(1.0 - mat @ cents[c], 0.0) ** 2)
    k = len(cents)
    for _ in range(n_iter):
        assign = np.argmax(mat @ cents.T, axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign(
    df: DataFrame, centroids: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Adds `cell: int` — index of the max-cosine centroid.  Arrow-batched
    numpy matmul; the centroid matrix ships in the UDF closure."""
    cents = np.asarray(centroids, dtype=np.float64)

    @F.arrow_udf("int")
    def cell_udf(vecs: pa.Array) -> pa.Array:
        mat = _stack_embeddings(vecs, cents.shape[1])  # null rows -> zeros
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pa.array(np.argmax(mat @ cents.T, axis=1).astype(np.int32))

    return df.withColumn("cell", cell_udf(F.col(vec_col)))


def ivf_topk(
    df_with_cells: DataFrame,
    centroids: np.ndarray,
    query: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF ANN top-k: score only the `nprobe` cells whose centroids are
    nearest the query.  The cell filter is a pushdownable IN-list —
    partition-prunable when the table is written partitioned by `cell`.
    nprobe = n_cells degrades gracefully to exact brute force (the
    oracle configuration)."""
    cents = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    qn = q / max(np.linalg.norm(q), 1e-12)
    order = np.argsort(-(cents @ qn), kind="stable")
    probe = [int(c) for c in order[: min(nprobe, len(cents))]]
    cos = _cosine_to_query(F.col(vec_col), query)
    return (
        df_with_cells.where(F.col("cell").isin(probe))
        .select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def lsh_topk(
    df_with_buckets: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN top-k: score only vectors whose bucket is within
    `probe_hamming` bit flips of the query's bucket (multi-probe LSH).
    The bucket filter is a pushdown-able IN-list predicate — at scale,
    with the table written bucketed/partitioned by `bucket`, this scans
    a tiny fraction of files.

    ``probe_hamming >= n_planes`` probes every bucket, degrading
    gracefully to exact brute force — the oracle configuration (same
    exact-kNN oracle as ivf_topk at full probe); partial-probe recall
    is gated separately in tests."""
    cos = _cosine_to_query(F.col(vec_col), query)
    scored = df_with_buckets
    if probe_hamming < n_planes:
        import itertools

        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((len(query), n_planes))
        q = np.asarray(query, dtype=np.float64)
        qbucket = int(
            ((q @ planes) > 0).astype(np.int64) @ (1 << np.arange(n_planes, dtype=np.int64))
        )
        probe = {qbucket}
        for r in range(1, probe_hamming + 1):
            for bits in itertools.combinations(range(n_planes), r):
                flip = 0
                for b in bits:
                    flip |= 1 << b
                probe.add(qbucket ^ flip)
        scored = scored.where(F.col("bucket").isin(list(probe)))
    return (
        scored.select(F.col(id_col), F.round(cos, 6).alias("cosine"))
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )
