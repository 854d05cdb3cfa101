"""Text tokenizer (Spark-free): ``tokenize_batch`` against a
pure-Python reference over every whitespace code point."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from marker_spark.datagen import VOCAB_SIZE
from marker_spark.hashing import mmh3_x64_128
from marker_spark.tokenize import tokenize_batch

# the 29 code points str.isspace() accepts
WHITESPACE = [chr(c) for c in range(0x3001) if chr(c).isspace()]
LETTERS = list("abcXYZ") + ["é", "ж", "中", "\U0001f600"]


def _reference(texts: list[str | None]) -> tuple[np.ndarray, np.ndarray]:
    """str.split() -> mmh3 h1 of each word's UTF-8 -> % VOCAB_SIZE."""
    ids: list[int] = []
    offsets = [0]
    for t in texts:
        words = (t or "").split()
        if words:
            h1, _ = mmh3_x64_128([w.encode("utf-8") for w in words])
            ids.extend((h1 % np.uint64(VOCAB_SIZE)).astype(np.int32).tolist())
        offsets.append(len(ids))
    return np.array(ids, dtype=np.int32), np.array(offsets, dtype=np.int64)


def test_every_code_point_splits_as_str_split():
    """Each code point between two letters splits them exactly when
    ``str.split()`` does: the split class is the 29 ``str.isspace()``
    code points, no more and no fewer."""
    assert len(WHITESPACE) == 29
    texts = [f"a{chr(c)}b" for c in range(0x110000) if not 0xD800 <= c < 0xE000]
    _, offsets = tokenize_batch(pa.array(texts))
    np.testing.assert_array_equal(np.diff(offsets), [len(t.split()) for t in texts])


_runs = st.lists(st.sampled_from(WHITESPACE), min_size=1, max_size=4).map("".join)
_words = st.lists(st.sampled_from(LETTERS), min_size=1, max_size=5).map("".join)
_docs = st.one_of(
    st.none(),
    st.just(""),
    st.lists(st.one_of(_runs, _words), max_size=8).map("".join),
    st.tuples(_runs, st.lists(_words, max_size=4), _runs).map(
        lambda t: t[0] + t[0].join(t[1]) + t[2]
    ),
)


@settings(max_examples=400, deadline=None)
@given(texts=st.lists(_docs, max_size=8), lo=st.integers(0, 2))
def test_tokenize_batch_matches_str_split(texts, lo):
    """Leading, trailing and repeated runs of any whitespace code point,
    empty and NULL docs, multi-byte letters, sliced arrays: the same
    token ids and offsets as the reference."""
    got_ids, got_offsets = tokenize_batch(pa.array(texts, pa.string()).slice(lo))
    want_ids, want_offsets = _reference(texts[lo:])
    assert got_ids.dtype == np.int32
    np.testing.assert_array_equal(got_offsets, want_offsets)
    np.testing.assert_array_equal(got_ids, want_ids)


def test_tokenize_batch_is_repeatable():
    """The same batch tokenizes the same way every time (a string's
    last whitespace code point never joins its last word)."""
    texts = ["\x85\u2000cY\x0c\n\u2002\u2006\x0ca\u2006", "\u2000\u2008\u3000\u3000a",
             "YX\u2002\u2003\u2000\u2002\n \x0bZ ", "", "", "\x0b\u2028\u2007\x1db\u3000"]
    want = _reference(texts)
    for _ in range(200):
        got = tokenize_batch(pa.array(texts))
        np.testing.assert_array_equal(got[1], want[1])
        np.testing.assert_array_equal(got[0], want[0])
