"""Deterministic text tokenizer: documents(text) -> tokens array<int32>.

Produces the second, text-derived tokenized_sequences instance
(FIXTURES.md §4): whitespace split, vocab id = h1 of
MurmurHash3_x64_128(word_utf8) mod VOCAB_SIZE.  Fully vectorized — a
whole Arrow batch of documents is split/encoded/hashed with flat-buffer
numpy kernels; the only Python-level per-item work is the C-level
``str.encode`` map.

Exposed both as a pandas-batch function (for tests) and a
``mapInPandas``/select-level transform for DataFrames.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .datagen import VOCAB_SIZE
from .hashing import mmh3_offsets
from .obs import spread_thin


def tokenize_batch(texts: pd.Series, vocab: int = VOCAB_SIZE) -> tuple[np.ndarray, np.ndarray]:
    """Tokenize a batch of strings -> (flat token ids int32, offsets int64)."""
    words_per_doc = texts.fillna("").str.split()
    lengths = words_per_doc.str.len().to_numpy(dtype=np.int64)
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.int32), offsets

    all_words = [w for doc in words_per_doc for w in doc]
    encoded = [w.encode("utf-8") for w in all_words]
    flat_bytes = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    w_offsets = np.zeros(total + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, encoded), dtype=np.int64, count=total), out=w_offsets[1:])
    h1, _ = mmh3_offsets(flat_bytes, w_offsets)
    token_ids = (h1 % np.uint64(vocab)).astype(np.int32)
    return token_ids, offsets


def tokenize_documents(df, text_col: str = "text", vocab: int = VOCAB_SIZE):
    """DataFrame transform: documents -> tokenized_sequences schema
    (doc_id string, tokens array<int32>, n_tok int32, source string).

    ``mapInArrow``: the token matrix leaves Python as ONE Arrow
    ListArray built from (flat ids, offsets) — the prior pandas UDF
    returned a Python slice object per document on the corpus-wide
    tokenization path, the exact pattern the repo's mapInArrow rule
    forbids.  (The per-row cost that remains is the str split itself,
    which pandas does at C level.)
    """
    import pyarrow as pa

    from pyspark.sql import functions as F

    def batch_fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            texts = batch.column(2).to_pandas()
            flat, offsets = tokenize_batch(texts, vocab)
            toks = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()),
                pa.array(flat, type=pa.int32()),
            )
            n_tok = pa.array(np.diff(offsets).astype(np.int32), type=pa.int32())
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), toks, n_tok, batch.column(1)],
                names=["doc_id", "tokens", "n_tok", "source"],
            )

    # a thin corpus scan would otherwise tokenize, and through the
    # callers' cache() run every downstream sketch build, on 1-2 tasks
    src = spread_thin(df).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("source").cast("string").alias("source"),
        F.col(text_col).alias("__text"),
    )
    return src.mapInArrow(
        batch_fn,
        schema="doc_id string, tokens array<int>, n_tok int, source string",
    )
