"""High-level one-call sketch aggregations over DataFrames.

The thin wrappers promised in SURVEY.md §2 Part B: each takes a
DataFrame plus column/group parameters and returns a DataFrame of
``(group..., sketch binary)`` (use :func:`marker_spark.collect_sketch`
/ ``collect_sketches`` to materialize driver-side objects, or keep the
table distributed and probe it with
:func:`marker_spark.probe.probe_sketch_table`).

Column semantics:
 * ``tokens`` columns (array<int32>) are sketched over their n-grams —
   the engine's marker materialization;
 * ``values`` columns (numeric) feed the quantile sketches;
 * ``marker`` columns (binary/string) are sketched as raw byte strings
   (the reference's exact input type, /root/reference/markercache.h:64-68).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from .agg import _check_group_cols, check_input_col, qcol, sketch_agg
from .kernels import bloom_binary_updater, bloom_ngram_updater, ngram_updater
from .params import BloomParams
from .sketches.bloom import BloomSketch
from .sketches.cms import CmsSketch
from .sketches.hll import HllSketch
from .sketches.kll import KllSketch
from .sketches.minhash import MinHashSketch
from .sketches.misra_gries import MisraGriesSketch
from .sketches.tdigest import TDigestSketch
from .sketches.theta import ThetaSketch


def _h1(sk, h1, h2) -> None:
    sk.update_hashes(h1)


def _h1_h2(sk, h1, h2) -> None:
    sk.update_hashes(h1, h2)


def _inputs(df: DataFrame, factory, col: str, kind: str | None, group_cols) -> DataFrame:
    """Fail on the driver, before any Spark job: build one empty sketch
    (each constructor range-checks its own parameters) and require the
    input column with a type of ``kind`` (see ``agg.check_input_col``)
    and the group columns.  Returns ``df`` projected to the group
    columns plus ``col``: Catalyst cannot prune through the Python
    partial build, so every other column would be converted to Arrow
    and shipped to Python unread.  Names are quoted, so a dot in one is
    part of the name, not struct-field access."""
    factory(())
    check_input_col(df, col, kind)
    names = dict.fromkeys(_check_group_cols(df, group_cols) + [col])
    return df.select(*[qcol(c) for c in names])


def _values_updater(value_col: str):
    """update(sk, batch) passing a numeric column to ``sk.update`` as a
    numpy array (a nullable column's nulls arrive as NaN)."""

    def update(sk, batch) -> None:
        sk.update(batch.column(value_col).to_numpy(zero_copy_only=False))

    return update


def bloom_agg(
    df: DataFrame,
    token_col: str | None = "tokens",
    marker_col: str | None = None,
    group_cols: list[str] | None = None,
    capacity: int = 1_000_000,
    fp: float = 0.001,
    ngram: int = 3,
    **agg_kw,
) -> DataFrame:
    """Bloom filter over token n-grams (or raw byte markers) per group."""
    params = BloomParams.solve(capacity, fp)
    factory = lambda _key: BloomSketch(params.m, params.k)  # noqa: E731
    if marker_col is not None:
        df = _inputs(df, factory, marker_col, None, group_cols)
        update = bloom_binary_updater(marker_col)
    else:
        df = _inputs(df, factory, token_col, "array<int>", group_cols)
        update = bloom_ngram_updater(ngram, token_col)
    return sketch_agg(df, factory, update, BloomSketch, group_cols, **agg_kw)


def hll_agg(
    df: DataFrame,
    token_col: str = "tokens",
    group_cols: list[str] | None = None,
    precision: int = 14,
    ngram: int = 3,
    **agg_kw,
) -> DataFrame:
    """HyperLogLog distinct-n-gram counter per group."""
    factory = lambda _key: HllSketch(p=precision)  # noqa: E731
    df = _inputs(df, factory, token_col, "array<int>", group_cols)
    update = ngram_updater(ngram, token_col, _h1)
    return sketch_agg(df, factory, update, HllSketch, group_cols, **agg_kw)


def cms_agg(
    df: DataFrame,
    token_col: str = "tokens",
    group_cols: list[str] | None = None,
    depth: int = 5,
    width: int = 1 << 16,
    ngram: int = 1,
    **agg_kw,
) -> DataFrame:
    """Count-min frequency sketch over n-grams (default unigrams)."""
    factory = lambda _key: CmsSketch(d=depth, w=width)  # noqa: E731
    df = _inputs(df, factory, token_col, "array<int>", group_cols)
    update = ngram_updater(ngram, token_col, _h1_h2)
    return sketch_agg(df, factory, update, CmsSketch, group_cols, **agg_kw)


def minhash_agg(
    df: DataFrame,
    token_col: str = "tokens",
    group_cols: list[str] | None = None,
    num_perm: int = 128,
    ngram: int = 3,
    seed: int = 42,
    **agg_kw,
) -> DataFrame:
    """MinHash signature per group (cross-group Jaccard estimation)."""
    factory = lambda _key: MinHashSketch(num_perm=num_perm, seed=seed)  # noqa: E731
    df = _inputs(df, factory, token_col, "array<int>", group_cols)
    update = ngram_updater(ngram, token_col, _h1)
    return sketch_agg(df, factory, update, MinHashSketch, group_cols, **agg_kw)


def kll_agg(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
    **agg_kw,
) -> DataFrame:
    """KLL quantile sketch over a numeric column per group."""
    factory = lambda _key: KllSketch(k=k)  # noqa: E731
    df = _inputs(df, factory, value_col, "numeric", group_cols)
    update = _values_updater(value_col)
    return sketch_agg(df, factory, update, KllSketch, group_cols, **agg_kw)


def tdigest_agg(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    delta: float = 200.0,
    **agg_kw,
) -> DataFrame:
    """t-digest quantile sketch over a numeric column per group."""
    factory = lambda _key: TDigestSketch(delta=delta)  # noqa: E731
    df = _inputs(df, factory, value_col, "numeric", group_cols)
    update = _values_updater(value_col)
    return sketch_agg(df, factory, update, TDigestSketch, group_cols, **agg_kw)


def theta_agg(
    df: DataFrame,
    token_col: str = "tokens",
    group_cols: list[str] | None = None,
    k: int = 4096,
    ngram: int = 3,
    **agg_kw,
) -> DataFrame:
    """Theta/KMV sketch per group — distinct counts plus set-operation
    (intersection/difference) estimates between groups."""
    factory = lambda _key: ThetaSketch(k=k)  # noqa: E731
    df = _inputs(df, factory, token_col, "array<int>", group_cols)
    update = ngram_updater(ngram, token_col, _h1)
    return sketch_agg(df, factory, update, ThetaSketch, group_cols, **agg_kw)


def mg_agg(
    df: DataFrame,
    item_col: str,
    group_cols: list[str] | None = None,
    k: int = 256,
    **agg_kw,
) -> DataFrame:
    """Misra-Gries heavy-hitters summary over an int64 item column per
    group — frequent items WITHOUT a known candidate set (count-min's
    complement), bounded O(k) state.  Null items are dropped."""
    factory = lambda _key: MisraGriesSketch(k=k)  # noqa: E731
    df = _inputs(df, factory, item_col, "integral", group_cols)

    def update(sk, batch) -> None:
        import pyarrow.compute as pc

        vals = pc.drop_null(batch.column(item_col))
        if len(vals):
            sk.update(vals.to_numpy())

    return sketch_agg(df, factory, update, MisraGriesSketch, group_cols, **agg_kw)
