"""Seeded input generators.  The same seed gives the same inputs; the
program under test only ever sees the generated files."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from marker_spark.datagen import MARKER_ALPHABET, VOCAB_SIZE, gen_tokenized_sequences


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


# --- token days (FIXTURES §1) -------------------------------------------------

def write_token_day(path: str, n_docs: int, seed: int, start: int = 0) -> pa.Table:
    """A day of tokenized documents: zipf tokens over the 50,257 vocab,
    20 zipf sources with the hottest near 40% of rows.  Small row groups
    keep the file splittable across the local cores."""
    table = gen_tokenized_sequences(n_docs, seed=seed, start=start)
    pq.write_table(table, path, row_group_size=2048)
    return table


def flat_tokens(table: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    col = table.column("tokens").combine_chunks()
    offsets = col.offsets.to_numpy().astype(np.int64)
    return col.values.to_numpy().astype(np.int32), offsets


def ngram_keys(flat: np.ndarray, offsets: np.ndarray, n: int = 3):
    """(start index, 48-bit key) of every token n-gram; token ids fit in
    16 bits, so the key identifies the n-gram exactly."""
    from marker_spark.ngrams import ngram_starts

    starts, per_doc = ngram_starts(offsets, n)
    key = np.zeros(len(starts), dtype=np.int64)
    for j in range(n):
        key = (key << 16) | flat[starts + j].astype(np.int64)
    return starts, per_doc, key


def oov_ngrams(n_grams: int, seed: int, n: int = 3) -> tuple[np.ndarray, np.ndarray]:
    """Token n-grams built from ids outside the vocabulary, so no build
    ever inserted them: (flat int32 tokens, window starts)."""
    flat = _rng(seed, 7).integers(VOCAB_SIZE, 2**31 - 1, size=n_grams * n).astype(np.int32)
    return flat, np.arange(n_grams, dtype=np.int64) * n


# --- reference markers (FIXTURES §2) ------------------------------------------

def markers(n: int, seed: int, stream: int) -> list[bytes]:
    """``n`` reference-alphabet markers sharing one width drawn from
    [50, 250] (the reference generator draws the width once per set)."""
    rng = _rng(seed, stream)
    width = int(rng.integers(50, 251))
    mat = MARKER_ALPHABET[rng.integers(0, len(MARKER_ALPHABET), size=(n, width))]
    return [row.tobytes() for row in mat]


def write_marker_bucket(path: str, data: list[bytes], slot_start: int, duration: int, seed: int) -> None:
    ts = slot_start + _rng(seed, slot_start).integers(0, duration, size=len(data))
    pq.write_table(
        pa.table({
            "ts": pa.array(ts * 1_000_000, type=pa.timestamp("us", tz="UTC")),
            "marker": pa.array(data, type=pa.binary()),
        }),
        path,
    )


# --- documents for the dedup pipeline -----------------------------------------

STOPWORDS = ["the", "and", "of", "to", "in", "is", "a"]


def documents(n_docs: int, n_groups: int, seed: int, near_per_group: int = 2, exact_per_group: int = 1):
    """Word documents with injected duplicate groups.

    Each group is one original plus ``exact_per_group`` byte-identical
    copies and ``near_per_group`` copies with 1-2 words replaced; the
    rest are unrelated documents.  At 120+ words, any two members of a
    group share more than 0.8 of their word 3-shingles, so each group is
    a clique of near-duplicates at the pipeline's default threshold.
    Words are seeded lowercase strings mixed with English stopwords, so
    every text passes the pipeline's quality filter.  Returns (ids,
    texts, groups) with ``groups`` a list of id lists, original first.
    """
    rng = _rng(seed, 11)
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lens = rng.integers(3, 10, size=20_000)
    words = np.array(
        [letters[rng.integers(0, 26, size=k)].tobytes().decode() for k in lens] + STOPWORDS
    )
    group_size = 1 + exact_per_group + near_per_group
    n_unique = n_docs - n_groups * (group_size - 1)
    texts: list[str] = []
    tokens: list[np.ndarray] = []
    for _ in range(n_unique):
        w = rng.integers(0, len(words), size=int(rng.integers(120, 200)))
        stop = rng.random(len(w)) < 0.2
        w[stop] = len(words) - 1 - rng.integers(0, len(STOPWORDS), size=int(stop.sum()))
        tokens.append(w)
        texts.append(" ".join(words[w]))
    groups_gen: list[list[int]] = []
    for g in range(n_groups):
        members = [g]
        for _ in range(exact_per_group):
            members.append(len(texts))
            texts.append(texts[g])
        for _ in range(near_per_group):
            w = tokens[g].copy()
            pos = rng.choice(len(w), size=int(rng.integers(1, 3)), replace=False)
            w[pos] = rng.integers(0, len(words) - len(STOPWORDS), size=len(pos))
            members.append(len(texts))
            texts.append(" ".join(words[w]))
        groups_gen.append(members)
    ids = rng.permutation(n_docs).astype(np.int64)  # doc id of each generated text
    groups = [[int(ids[i]) for i in m] for m in groups_gen]
    return ids, texts, groups


def write_documents(path: str, ids: np.ndarray, texts: list[str]) -> None:
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, type=pa.int64()), "text": pa.array(texts)}),
        path, row_group_size=512,
    )
