"""Dedup operator tests beyond the oracle queries: scalable exact
dedup equivalence, MinHash-LSH candidate quality."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from marker_spark.ops.dedup import (
    exact_dedup_scalable,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def test_exact_dedup_variants_agree(spark, docs):
    a = exact_dedup_scalable(docs).select("text", "doc_id", "dup_count")
    b = exact_dedup_scalable(docs).select("doc_id", "dup_count")
    ra = {(r["doc_id"], r["dup_count"]) for r in a.collect()}
    rb = {(r["doc_id"], r["dup_count"]) for r in b.collect()}
    assert ra == rb


def test_scalable_dedup_keeps_full_rows(spark, docs):
    out = exact_dedup_scalable(docs)
    assert set(out.columns) == set(docs.columns) | {"dup_count"}
    assert out.count() == docs.select("text").distinct().count()


def test_lsh_candidates_cover_high_jaccard_pairs(spark, docs):
    """Every pair with true 3-gram Jaccard >= 0.8 must appear among the
    MinHash-LSH candidates (b=32, r=4 -> ~1 collision prob at s=0.8)."""
    truth = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, shingle=3, threshold=0.8).collect()
    }
    if not truth:
        pytest.skip("fixture has no >=0.8 jaccard pairs at this sf")
    sigs = minhash_signatures(docs, num_perm=128, shingle=3)
    cands = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, bands=32, rows_per_band=4).collect()
    }
    missed = truth - cands
    assert not missed, f"LSH missed high-similarity pairs: {missed}"


def test_shingle_hashes_match_reference_implementation():
    """The fused _shingle_hashes_flat kernel (flat buffers, window
    gathers, scatter assembly) must agree doc-by-doc with a naive
    per-doc implementation built on the generic golden-tested byte
    hasher — including short docs (< shingle words) and empty docs."""
    import numpy as np

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from marker_spark.hashing import mmh3_x64_128
    from marker_spark.ops.dedup import _shingle_hashes_flat

    def fold32(h64: np.ndarray) -> np.ndarray:
        u = h64.view(np.uint64)
        return (u ^ (u >> np.uint64(32))).astype(np.uint32)

    def reference(docs: list[list[int]], shingle: int):
        out, seg = [], []
        for wh in docs:
            seg.append(len(out))
            f32 = fold32(np.asarray(wh, dtype=np.int64)) if wh else np.empty(0, np.uint32)
            b = f32.astype("<u4").tobytes()
            if len(wh) >= shingle:
                items = [b[4 * i : 4 * (i + shingle)] for i in range(len(wh) - shingle + 1)]
            else:
                items = [b]  # whole-doc shingle ('' when empty)
            h1, _ = mmh3_x64_128(items)
            out.extend(h1.tolist())
        return np.array(out, dtype=np.uint64), np.array(seg, dtype=np.int64)

    word_hash = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    docs_strategy = st.lists(st.lists(word_hash, max_size=12), min_size=1, max_size=8)

    @settings(max_examples=60, deadline=None)
    @given(docs=docs_strategy, shingle=st.integers(min_value=2, max_value=5))
    def run(docs, shingle):
        offsets = np.zeros(len(docs) + 1, dtype=np.int64)
        np.cumsum([len(d) for d in docs], out=offsets[1:])
        flat = np.array([h for d in docs for h in d], dtype=np.int64).view(np.uint64)
        got_flat, got_seg = _shingle_hashes_flat(flat, offsets, shingle)
        want_flat, want_seg = reference(docs, shingle)
        assert np.array_equal(got_seg, want_seg)
        assert np.array_equal(got_flat, want_flat)

    run()


def test_winnowing_fingerprints_guarantees(spark):
    """MOSS properties: (1) exact duplicates have identical fingerprint
    sets; (2) any shared substring of length >= k + window - 1 shares a
    fingerprint; (3) fingerprints are position-independent; (4) the
    pair query surfaces near-dups and not unrelated docs."""
    import pandas as pd

    from marker_spark.ops.text import winnowing_dup_pairs, winnowing_fingerprints

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a", "b", "c", "d", "e"],
        "text": [
            base,
            "XX " + base + " with a different tail entirely",
            "totally unrelated content with no overlap whatsoever here",
            base,                      # exact dup of a
            "",                        # empty doc must not crash
        ],
    }))
    fps = winnowing_fingerprints(docs, k=8, window=4)
    got = {r["doc_id"]: set(r["fingerprints"]) for r in fps.collect()}
    assert got["a"] == got["d"]                      # (1)
    assert len(got["a"] & got["b"]) >= 1             # (2) shared substring
    assert len(got["a"] & got["c"]) == 0             # unrelated
    assert len(got["e"]) <= 1                        # empty doc
    pairs = {(r["id_a"], r["id_b"]) for r in winnowing_dup_pairs(fps, min_shared=2).collect()}
    assert ("a", "d") in pairs and ("a", "b") in pairs
    assert not any("c" in p for p in pairs)
    # (3) position independence: same content at different offsets
    docs2 = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["x", "y"],
        "text": ["PREFIXPREFIX common window here tail", "common window here tail"],
    }))
    r2 = {r["doc_id"]: set(r["fingerprints"])
          for r in winnowing_fingerprints(docs2, k=8, window=4).collect()}
    assert r2["x"] & r2["y"]


def test_skew_caps_drop_hot_keys_only(spark):
    """max_bucket / max_df must drop only the pathological hot keys:
    pairs that also collide on a rare key survive."""
    import pandas as pd

    from marker_spark.ops.text import winnowing_dup_pairs

    # 30 docs share one boilerplate fingerprint; two docs also share a
    # rare one.  With max_df=5 the boilerplate key is dropped: only the
    # rare-key pair survives (min_shared=1).
    fps = [(f"d{i:02d}", [777]) for i in range(30)]
    fps[3] = ("d03", [777, 42])
    fps[7] = ("d07", [777, 42])
    fp_df = spark.createDataFrame(
        pd.DataFrame(fps, columns=["doc_id", "fingerprints"]),
        schema="doc_id string, fingerprints array<long>",
    )
    capped = winnowing_dup_pairs(fp_df, min_shared=1, max_df=5).collect()
    assert {(r["id_a"], r["id_b"]) for r in capped} == {("d03", "d07")}
    uncapped = winnowing_dup_pairs(fp_df, min_shared=1).count()
    assert uncapped == 30 * 29 // 2  # the quadratic blow-up the cap removes


def test_lsh_max_bucket_cap(spark, docs):
    """Capped LSH candidates are a subset; a tiny cap still keeps pairs
    that collide in small buckets."""
    sigs = minhash_signatures(docs, num_perm=128, shingle=3)
    full = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sigs).collect()}
    capped = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, max_bucket=2).collect()
    }
    assert capped <= full


def test_embedding_near_dup_lsh_finds_planted_pairs(spark):
    """LSH-blocked embedding dedup must recover planted near-identical
    vectors (cos ~0.999 -> same bucket w.h.p.) without a label column,
    and never scan cross-bucket pairs."""
    import numpy as np
    import pandas as pd

    from marker_spark.ops.dedup import embedding_near_dup_lsh

    rng = np.random.default_rng(3)
    base = rng.standard_normal((50, 32))
    rows = [(i, v.astype(np.float32).tolist()) for i, v in enumerate(base)]
    # plant 5 near-duplicates of vectors 0..4
    for j in range(5):
        v = base[j] + rng.standard_normal(32) * 0.01
        rows.append((100 + j, v.astype(np.float32).tolist()))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<float>",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_lsh(df, dim=32, threshold=0.99, n_planes=6).collect()
    }
    planted = {(j, 100 + j) for j in range(5)}
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.8, (recall, pairs)


def _round6(x: float) -> float:
    """Spark ``F.round(x, 6)``: BigDecimal.valueOf(double).setScale(6,
    HALF_UP), i.e. HALF_UP over the SHORTEST-decimal repr of the double
    (= Python repr).  np.round/round are half-even over the binary
    value, so a tie at the 7th place would diverge."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _fold_dot(a, b) -> float:
    acc = 0.0  # sequential left fold, the order Catalyst's aggregate sums in
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _reference_block_pairs(rows, threshold: float) -> list:
    """Plain-Python blocked cosine rule over ``(id, vector, block)``
    rows: pairs ``id_a < id_b`` in one block with round-6 cosine >=
    threshold.  NULL ids, blocks and vectors never pair, nor do vectors
    holding a NULL or shorter than their block's longest."""
    import math

    blocks: dict = {}
    for vid, vec, block in rows:
        if vid is not None and vec is not None and block is not None:
            blocks.setdefault(block, []).append((vid, vec))
    out = []
    for members in blocks.values():
        dim = max(len(v) for _, v in members)
        ok = [(i, v, math.sqrt(_fold_dot(v, v)))
              for i, v in members if len(v) == dim and None not in v]
        for ia, a, na in ok:
            for ib, b, nb in ok:
                if ia < ib:
                    cos = _fold_dot(a, b) / (na * nb)
                    if cos >= threshold - 1e-6 and _round6(cos) >= threshold:
                        out.append((ia, ib, _round6(cos)))
    return sorted(out)


def test_embedding_pair_kernel_matches_python_reference(spark):
    """embedding_near_dup_pairs (and embedding_near_dup_lsh on its own
    buckets) equals a plain-Python replay of the blocked cosine rule.
    Block 0 spans several kernel tiles in both directions, so tile
    boundaries and the diagonal tile are covered; the extra rows carry
    every never-pairs case next to a vector they would otherwise match."""
    import numpy as np

    from marker_spark.ops.dedup import (
        _PAIR_TILE,
        embedding_near_dup_lsh,
        embedding_near_dup_pairs,
    )
    from marker_spark.ops.similarity import hyperplane_signatures

    rng = np.random.default_rng(17)

    def vec():  # float32 values, exact in the array<float> column
        return rng.standard_normal(8).astype(np.float32).astype(float).tolist()

    n_big = 2 * _PAIR_TILE + _PAIR_TILE // 3
    rows = [(i, vec(), 0) for i in range(n_big)]
    rows += [(n_big + i, vec(), 1) for i in range(40)]
    rows += [
        (9000, None, 0),  # NULL vector
        (9001, rows[3][1][:7], 0),  # ragged
        (9002, rows[4][1][:7] + [None], 0),  # vector holding a NULL
        (9003, rows[5][1], None),  # NULL blocks: a NULL key never matches
        (9005, rows[5][1], None),
        (None, rows[6][1], 0),  # NULL id
        (7, [x + 1e-4 for x in rows[7][1]], 0),  # duplicated id
        (9004, rows[8][1], 1),  # copy of a block-0 vector in block 1
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).repartition(3)
    threshold = 0.85

    got = sorted(
        tuple(r) for r in embedding_near_dup_pairs(df, threshold=threshold).collect()
    )
    want = _reference_block_pairs(rows, threshold)
    assert len(want) > 500
    assert got == want
    paired = {i for p in got for i in p[:2]}
    assert not paired & {9000, 9001, 9002, 9003, 9004, 9005}

    # one plane: every row lands in one of two buckets
    buckets = hyperplane_signatures(df, dim=8, n_planes=1, seed=42).collect()
    assert {r["bucket"] for r in buckets} == {0, 1}
    want_lsh = _reference_block_pairs(
        [(r["vec_id"], r["embedding"], r["bucket"]) for r in buckets], threshold
    )
    got_lsh = sorted(
        tuple(r)
        for r in embedding_near_dup_lsh(
            df, dim=8, threshold=threshold, n_planes=1, seed=42
        ).collect()
    )
    assert len(want_lsh) > 100
    assert got_lsh == want_lsh


def test_connected_components_chain_and_clique(spark):
    """Connected components must close transitive chains (A-B, B-C,
    C-D => one component) — the multi-round convergence case — and
    keep disjoint cliques apart."""
    import pandas as pd

    from marker_spark.ops.dedup import connected_components

    pairs = spark.createDataFrame(
        pd.DataFrame(
            {
                # chain 1-2-3-4 (diameter 3: needs >1 round), clique {7,8,9},
                # isolated pair {5,6}
                "id_a": ["1", "2", "3", "7", "7", "8", "5"],
                "id_b": ["2", "3", "4", "8", "9", "9", "6"],
            }
        ),
        schema="id_a string, id_b string",
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert {comp["1"], comp["2"], comp["3"], comp["4"]} == {"1"}
    assert {comp["7"], comp["8"], comp["9"]} == {"7"}
    assert {comp["5"], comp["6"]} == {"5"}
    from marker_spark.cacheutil import release_all

    release_all()


def test_jaccard_for_pairs_matches_discovery_join(spark):
    """The pair-bounded verifier must agree with the discovery-shaped
    shingle self-join on the pairs the latter finds (hash shingles are
    collision-equivalent to string shingles)."""
    from marker_spark.ops.dedup import ngram_jaccard_for_pairs, ngram_jaccard_pairs
    from marker_spark.ops.text import words_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").where(
        F.size(words_col(F.col("text"))) >= 3
    )
    discovered = ngram_jaccard_pairs(docs, shingle=3, threshold=0.5, id_col="doc_id")
    want = {(r["id_a"], r["id_b"]): r["jaccard"] for r in discovered.collect()}
    assert want, "fixture produced no pairs"
    got_rows = ngram_jaccard_for_pairs(
        discovered.select("id_a", "id_b"), docs, shingle=3, id_col="doc_id"
    ).collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got_rows}
    assert got == want


def test_duplicated_spans_exact_boundaries(spark):
    """A planted shared region must come back as ONE maximal span with
    exact start offsets and length; unrelated docs contribute nothing."""
    import pandas as pd

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "XX" + shared + "YYYYYYYYYYYYYYYYYYYYYYYY",
                    "abcdefgh" + shared + "ZZZZZZZZZZZZZZZZZZZZ",
                    "totally unrelated content with no overlap at all here",
                ],
            }
        )
    )
    from marker_spark.ops.dedup import duplicated_spans

    rows = duplicated_spans(docs, k=24, min_len=40).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["start_a"] == 3  # 1-based, after "XX"
    assert r["start_b"] == 9  # after "abcdefgh"
    assert r["span_len"] == len(shared)


def test_duplicated_spans_hot_gram_cap(spark):
    """Grams appearing in more than max_df docs are stop-grams: shared
    boilerplate across many docs must not explode into pairs."""
    import pandas as pd

    boiler = "this exact boilerplate sentence appears in every single document"
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(10)), "text": [boiler] * 10})
    )
    from marker_spark.ops.dedup import duplicated_spans

    assert duplicated_spans(docs, k=24, min_len=40, max_df=4).count() == 0


def test_boilerplate_spans_covers_the_high_df_exemption(spark):
    """The complement of the hot-gram cap: a span shared by MORE than
    max_df docs is invisible to duplicated_spans (previous test) and
    must be exactly what boilerplate_spans reports — and composing with
    remove_duplicated_spans must excise it from EVERY doc (no canonical
    keeper for boilerplate)."""
    import pandas as pd

    from pyspark.sql import functions as F

    from marker_spark.ops.dedup import (
        boilerplate_spans,
        duplicated_spans,
        remove_duplicated_spans,
    )

    boiler = "this exact boilerplate sentence appears in every single document. "
    texts = [boiler + f"unique tail number {i} with nothing shared" for i in range(10)]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(10)), "text": texts})
    )
    assert duplicated_spans(docs, k=24, min_len=40, max_df=4).count() == 0
    spans = boilerplate_spans(docs, k=24, min_len=40, max_df=4).collect()
    assert len(spans) == 10
    for r in spans:
        assert r["start"] == 1
        # covered chars = positions 1..len(boiler): the last hot gram
        # starts at len(boiler) - 24 + 1 only if the NEXT 24 chars stay
        # shared; tails differ, so coverage ends where grams stop being
        # common to >max_df docs — at least the pure-boiler prefix
        assert r["span_len"] >= 40
    span_lens = {r["span_len"] for r in spans}
    assert len(span_lens) == 1, "identical boilerplate must yield identical spans"
    cleaned = remove_duplicated_spans(
        docs,
        boilerplate_spans(docs, k=24, min_len=40, max_df=4).select(
            F.col("doc_id").alias("doc_b"),
            F.col("start").alias("start_b"),
            "span_len",
        ),
    ).collect()
    assert len(cleaned) == 10
    from marker_spark.cacheutil import release_all

    release_all()  # BEFORE the asserts: a failing assertion must not
    # leak the registered gram persists into the session-scoped fixture
    for r in cleaned:
        # the shared region extends past the boiler sentence through
        # "unique tail number " (all docs share it up to the digit):
        # everything before the per-doc digit is excised everywhere
        assert r["text"] == f"{r['doc_id']} with nothing shared", r["text"][:60]
        assert r["n_chars_after"] < r["n_chars_before"]


def test_boilerplate_spans_merges_adjacent_islands(spark):
    """Two distinct hot substrings abutting in one doc are ONE
    contiguous boilerplate-covered range — adjacency (pos == prev_e+1)
    must merge; a genuine gap must split."""
    import pandas as pd

    from marker_spark.ops.dedup import boilerplate_spans

    a = "A" * 30 + "b" * 10  # hot block 1 (40 chars)
    b = "C" * 30 + "d" * 10  # hot block 2 (40 chars)
    # 5 docs with a+b adjacent; one doc with a gap between them
    texts = [a + b] * 5 + [a + "=GAP-123456789ABCDEF-GAP=" + b]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(range(6)), "text": texts})
    )
    got = {
        (r["doc_id"], r["start"], r["span_len"])
        for r in boilerplate_spans(docs, k=8, min_len=10, max_df=3).collect()
    }
    from marker_spark.cacheutil import release_all

    release_all()  # before the asserts (failure must not leak persists)
    for d in range(5):
        assert (d, 1, 80) in got, sorted(got)
    gap_doc = sorted((s, l) for (d, s, l) in got if d == 5)
    assert len(gap_doc) == 2 and gap_doc[0][0] == 1, gap_doc


def test_remove_duplicated_spans_surgery(spark):
    """Removal keeps the canonical (lowest-id) occurrence, cuts every
    b-side occurrence — including multiple occurrences in one doc —
    and passes untouched docs through unchanged."""
    import pandas as pd

    shared = "the quick brown fox jumps over the lazy dog again and again"
    texts = {
        1: "XX" + shared + "TAILTAILTAILTAILTAILTAILTAIL",
        2: "abcdefgh" + shared + "ZZZZZZZZZZZZZZZZZZZZZZZZZZ",
        3: "totally unrelated content with no overlap at all here ok",
        4: shared + "MIDDLE" + shared,
    }
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(texts), "text": list(texts.values())})
    )
    from marker_spark.ops.dedup import duplicated_spans, remove_duplicated_spans

    spans = duplicated_spans(docs, k=24, min_len=40)
    got = {
        r["doc_id"]: r["text"]
        for r in remove_duplicated_spans(docs, spans).collect()
    }
    assert got[1] == texts[1]  # canonical copy untouched
    assert got[2] == "abcdefgh" + "Z" * 26  # span excised
    assert got[3] == texts[3]  # unrelated doc passes through
    assert got[4] == "MIDDLE"  # BOTH occurrences removed


def test_duplicated_token_spans_word_boundaries(spark):
    """Word-granularity spans: positions and lengths count WORDS, and
    partial-word character overlap must not match."""
    import pandas as pd

    shared_words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "pre1 pre2 " + shared_words + " tail1",
                    shared_words + " other words here",
                    # char-similar but word-distinct (suffix glued on)
                    "alphaX betaX gammaX deltaX epsilonX zetaX etaX thetaX iotaX kappaX lambdaX muX",
                ],
            }
        )
    )
    from marker_spark.ops.dedup import duplicated_token_spans

    rows = duplicated_token_spans(docs, k=6, min_len=10).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["start_a"] == 3  # third word, after pre1 pre2
    assert r["start_b"] == 1
    assert r["span_len"] == 12  # the full shared word run


def test_span_removal_preserves_null_text(spark):
    """A NULL-text doc has no grams, so it is untouched — and must come
    back with text NULL (not coerced to ''), n_chars NULL on both sides."""
    from marker_spark.ops.dedup import duplicated_spans, remove_duplicated_spans

    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    rows = [(1, base + "alpha"), (2, base + "beta"), (3, None)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    spans = duplicated_spans(docs, k=24, min_len=40, max_df=16, max_occ=64)
    out = {r["doc_id"]: r for r in remove_duplicated_spans(docs, spans).collect()}
    assert set(out) == {1, 2, 3}
    assert out[3]["text"] is None
    assert out[3]["n_chars_before"] is None and out[3]["n_chars_after"] is None
    assert spans.count() > 0  # the non-null pair did get excised
    assert out[2]["n_chars_after"] < out[2]["n_chars_before"]


def _cc_sets(rows):
    """Brute-force components of an edge list -> frozenset of frozensets."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in rows:
        parent[find(a)] = find(b)
    groups = {}
    for n in list(parent):
        groups.setdefault(find(n), set()).add(n)
    return frozenset(frozenset(g) for g in groups.values())


def _cc_labels(spark, edges, **kw):
    """(id, component) rows of connected_components over int edges,
    with its registered handles released."""
    from marker_spark.cacheutil import release_all
    from marker_spark.ops.dedup import connected_components

    df = spark.createDataFrame(edges, "id_a int, id_b int")
    try:
        return {(r["id"], r["component"]) for r in connected_components(df, **kw).collect()}
    finally:
        release_all()


def _cliques_and_pairs(sizes):
    """Edges of disjoint cliques of the given sizes (size 2 is an
    isolated pair), node ids scattered by a fixed permutation so a
    clique's minimum is not its first node."""
    edges, base = [], 0
    for size in sizes:
        nodes = [(base + i) * 7 % 101 for i in range(size)]
        edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
        base += size
    return edges


def test_connected_components_matches_union_find(spark):
    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    edge_lists = st.one_of(
        st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1, max_size=30,
        ),
        # self-pairs only: every node is its own component, no edge survives
        st.lists(st.integers(0, 25).map(lambda n: (n, n)), min_size=1, max_size=10),
        # cliques mixed with isolated pairs (size-2 cliques)
        st.lists(st.integers(2, 5), min_size=1, max_size=6).map(_cliques_and_pairs),
    )

    @settings(max_examples=8, deadline=None)
    @given(edge_lists)
    # after round 1 this path is (3,1), (4,1), (3,2), (5,2): no parent
    # is a child, yet node 3 has two parents — not a star forest
    @example([(1, 4), (4, 3), (3, 5), (5, 2)])
    def inner(edges):
        rows = _cc_labels(spark, edges)
        # component label must be the component MINIMUM
        want = {(n, min(g)) for g in _cc_sets(edges) for n in g}
        assert rows == want, (sorted(rows), sorted(want))

    inner()


def test_connected_components_converges_in_log_rounds_on_a_path(spark):
    """A 48-node path has diameter 47, so min-label propagation could
    not finish in 12 rounds, while large-star/small-star does
    (O(log n)).  Too few rounds raise; a round budget below 1 is
    rejected before any Spark job."""
    import pytest as _pytest

    from marker_spark.cacheutil import live_count
    from marker_spark.ops.dedup import connected_components
    from tests.test_api import _rejected_before_any_job

    path = [(i, i + 1) for i in range(47)]
    stats: dict = {}
    assert _cc_labels(spark, path, max_rounds=12, stats=stats) == {(i, 0) for i in range(48)}
    assert stats["converged"], stats
    with _pytest.raises(RuntimeError, match="did not converge"):
        _cc_labels(spark, path, max_rounds=2, stats=stats)
    assert stats == {"rounds": 2, "converged": False}
    df = spark.createDataFrame(path, "id_a int, id_b int")
    n_live = live_count()
    _rejected_before_any_job(
        spark, df, "cc-max-rounds-0",
        lambda: connected_components(df, max_rounds=0), "max_rounds must be >= 1",
    )
    assert live_count() == n_live


def test_connected_components_stops_after_one_round_on_disjoint_cliques(spark):
    """Near-dup pairs form small cliques: one round turns each into a
    star rooted at its minimum, and the star-forest check ends there."""
    edges = _cliques_and_pairs([5, 4, 3, 2, 2])
    stats: dict = {}
    rows = _cc_labels(spark, edges, stats=stats)
    assert rows == {(n, min(g)) for g in _cc_sets(edges) for n in g}
    assert stats == {"rounds": 1, "converged": True}


def test_semdedup_flags_matches_numpy_replica(spark):
    """semdedup_flags (SemDeDup upper-triangular rule over k-means
    cells) must agree row-for-row with a naive numpy replica of the
    published algorithm: argmax-of-rounded-dots assignment (first max
    on ties), then drop any vector whose round-6 cosine to a LOWER-id
    cluster-mate reaches the threshold."""
    import numpy as np
    import pandas as pd

    from marker_spark.ops.dedup import semdedup_flags
    from marker_spark.ops.similarity import kmeans_centroids

    rng = np.random.default_rng(11)
    # 3 tight clusters around orthogonal-ish anchors + planted dups
    anchors = rng.standard_normal((3, 16))
    anchors /= np.linalg.norm(anchors, axis=1, keepdims=True)
    rows = []
    vecs = {}
    vid = 0
    for c in range(3):
        for _ in range(20):
            v = anchors[c] + rng.standard_normal(16) * 0.15
            vecs[vid] = v
            rows.append((vid, v.astype(np.float32).tolist()))
            vid += 1
    # planted near-dups of ids 0, 21, 42 (one per cluster)
    for src in (0, 21, 42):
        v = vecs[src] + rng.standard_normal(16) * 0.003
        vecs[vid] = v
        rows.append((vid, v.astype(np.float32).tolist()))
        vid += 1
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"]),
        schema="vec_id long, embedding array<float>",
    )
    cents = kmeans_centroids(df, n_cells=3, seed=5)
    got = {
        r["vec_id"]: (r["cell"], r["is_dup"], r["max_lower_cos"])
        for r in semdedup_flags(df, cents, threshold=0.995).collect()
    }

    # ---- numpy replica (float32 round-trip like the Spark column) ----
    ids = sorted(vecs)
    mat = np.stack([vecs[i].astype(np.float32).astype(np.float64) for i in ids])
    raw = mat @ np.asarray(cents).T
    dots = np.vectorize(_round6)(raw)
    cell = np.argmax(dots, axis=1)  # first max on ties, same rule
    want = {}
    for pos, i in enumerate(ids):
        best = -1.0
        for qos, j in enumerate(ids):
            if j >= i or cell[qos] != cell[pos]:
                continue
            a, b = mat[pos], mat[qos]
            cos = _round6(float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))))
            if cos >= 0.995:
                best = max(best, cos)
        want[i] = (int(cell[pos]), int(best > 0), _round6(best))
    assert got == want
    # the planted dups (higher id than their source) must be flagged
    assert all(got[i][1] == 1 for i in (60, 61, 62)), got
    # and the bulk must survive
    assert sum(v[1] for v in got.values()) == 3, got


def test_canonical_selection_semantics(spark):
    """argmax-quality per cluster, ties by lowest id, NULL scores last,
    singleton clusters keep themselves."""
    from marker_spark.ops.dedup import canonical_selection

    rows = [
        # cluster 1: clear argmax at id 12
        (10, 1, 0.5), (11, 1, 0.7), (12, 1, 0.9),
        # cluster 2: tie on score -> lowest id (20) wins
        (20, 2, 0.8), (21, 2, 0.8),
        # cluster 3: all-NULL scores -> lowest id (30) wins
        (30, 3, None), (31, 3, None),
        # cluster 4: NULL sorts after a real score
        (40, 4, None), (41, 4, 0.1),
        # singleton
        (50, 5, 0.2),
    ]
    df = spark.createDataFrame(rows, "doc_id long, component long, score double")
    got = {
        r["doc_id"]: (r["canonical_id"], r["keep"])
        for r in canonical_selection(df).collect()
    }
    assert got[10] == (12, False) and got[11] == (12, False) and got[12] == (12, True)
    assert got[20] == (20, True) and got[21] == (20, False)
    assert got[30] == (30, True) and got[31] == (30, False)
    assert got[40] == (41, False) and got[41] == (41, True)
    assert got[50] == (50, True)
