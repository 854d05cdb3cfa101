"""Deterministic text tokenizer: documents(text) -> tokens array<int32>.

Produces the second, text-derived tokenized_sequences instance
(FIXTURES.md §4): whitespace split, vocab id = h1 of
MurmurHash3_x64_128(word_utf8) mod VOCAB_SIZE.  Fully vectorized — a
whole Arrow batch of documents is split by one Arrow regex and its
words hashed straight off the Arrow string buffers; no per-word Python
object is made.

Exposed both as an Arrow-array function (:func:`tokenize_batch`) and a
``mapInArrow`` DataFrame transform (:func:`tokenize_documents`).
"""

from __future__ import annotations

import numpy as np

from .datagen import VOCAB_SIZE
from .hashing import mmh3_offsets
from .kernels import arrow_marker_bytes
from .obs import spread_thin

# The 29 code points ``str.isspace()`` accepts, as one RE2 class:
# splitting on runs of them gives ``str.split()``'s words once empty
# strings are dropped.  Arrow's ``ascii_split_whitespace`` misses 23 of
# them, and pyarrow 16's ``utf8_split_whitespace`` sometimes keeps a
# string's last whitespace code point in its last word.
_WHITESPACE_RUN = (
    r"[\x{9}-\x{d}\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)


def tokenize_batch(texts, vocab: int = VOCAB_SIZE) -> tuple[np.ndarray, np.ndarray]:
    """Tokenize a ``pa.Array`` of strings -> (flat token ids int32,
    offsets int64).  Words are ``str.split()``'s: the split drops the
    empty strings a regex split yields for an empty text and at leading
    or trailing whitespace.  A NULL text has no tokens."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    split = pc.split_pattern_regex(texts.fill_null(""), _WHITESPACE_RUN)
    words = pc.list_flatten(split)
    nonempty = pc.greater(pc.binary_length(words), 0)
    words = words.filter(nonempty)
    parents = pc.list_parent_indices(split).filter(nonempty).to_numpy()
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(np.bincount(parents, minlength=len(texts)), out=offsets[1:])
    h1, _ = mmh3_offsets(*arrow_marker_bytes(words))
    token_ids = (h1 % np.uint64(vocab)).astype(np.int32)
    return token_ids, offsets


def tokenize_documents(df, text_col: str = "text", vocab: int = VOCAB_SIZE):
    """DataFrame transform: documents -> tokenized_sequences schema
    (doc_id string, tokens array<int32>, n_tok int32, source string).

    ``mapInArrow``: the token matrix leaves Python as ONE Arrow
    ListArray built from (flat ids, offsets), and the texts come in as
    one Arrow string array: no Python object per document or word
    crosses either way.
    """
    import pyarrow as pa

    from pyspark.sql import functions as F

    def batch_fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            flat, offsets = tokenize_batch(batch.column(2), vocab)
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
