"""Learned-BPE tokenizer: golden parity against a deliberately naive
reference implementation (recount-from-scratch trainer + straight
re-apply), plus distributed-apply integration."""

from __future__ import annotations

from collections import Counter

import pandas as pd

from marker_spark.ops.bpe import bpe_tokens_col, encode_word, train_bpe


# --- naive reference: O(n_merges * corpus) recount per iteration ---------

def _naive_train(texts, n_merges):
    word_freq = Counter()
    for t in texts:
        word_freq.update(t.split())
    words = {w: list(w) for w in word_freq}
    merges = []
    for _ in range(n_merges):
        counts = Counter()
        for w, syms in words.items():
            f = word_freq[w]
            for pair in zip(syms, syms[1:]):
                counts[pair] += f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                    out.append(best[0] + best[1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges, words


CORPUS = [
    "low lower lowest newer newest wide wider widest",
    "the newer method is wider than the low method",
    "low low low newer newer wide lowest",
    "ester ester esters test tests testing",
]


def test_trainer_matches_naive_reference():
    fast = train_bpe(CORPUS, n_merges=40)
    naive, _ = _naive_train(CORPUS, 40)
    assert fast == naive


def test_encode_matches_trainer_segmentation():
    """Applying the learned ranks to a word seen in training must
    reproduce the trainer's own final segmentation of that word."""
    merges = train_bpe(CORPUS, n_merges=40)
    _, naive_words = _naive_train(CORPUS, 40)
    ranks = {p: i for i, p in enumerate(merges)}
    for w, expected_syms in naive_words.items():
        assert encode_word(w, ranks) == expected_syms, w


def test_encode_roundtrips_and_handles_unseen():
    merges = train_bpe(CORPUS, n_merges=40)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["lowest", "newest", "zzzzq", "a", ""]:
        assert "".join(encode_word(w, ranks)) == w


def test_distributed_apply_matches_local(spark):
    merges = train_bpe(CORPUS, n_merges=30)
    ranks = {p: i for i, p in enumerate(merges)}
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(CORPUS)), "text": CORPUS})
    )
    rows = bpe_tokens_col(docs, merges).orderBy("doc_id").collect()
    for r in rows:
        expect = [t for w in CORPUS[r["doc_id"]].split() for t in encode_word(w, ranks)]
        assert r["bpe_tokens"] == expect
        # lossless: concatenation reproduces the text modulo whitespace
        assert "".join(r["bpe_tokens"]) == CORPUS[r["doc_id"]].replace(" ", "")


def test_training_deterministic_and_bounded():
    m1 = train_bpe(CORPUS, n_merges=25)
    m2 = train_bpe(list(CORPUS), n_merges=25)
    assert m1 == m2
    assert len(m1) <= 25
    # char cap truncates deterministically
    m3 = train_bpe(CORPUS, n_merges=25, max_chars=10)
    assert m3 == train_bpe(CORPUS[:1], n_merges=25)


from hypothesis import given, settings
from hypothesis import strategies as st

_word = st.text(alphabet="abcde", min_size=1, max_size=8)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.lists(_word, min_size=1, max_size=12).map(" ".join),
                min_size=1, max_size=6),
       st.integers(1, 30))
def test_trainer_matches_naive_on_random_corpora(texts, n_merges):
    """Property: the incremental pair-count trainer and the naive
    recount-from-scratch trainer produce identical merge lists on
    arbitrary corpora (the incremental bookkeeping is the risky part)."""
    assert train_bpe(texts, n_merges=n_merges) == _naive_train(texts, n_merges)[0]


@settings(max_examples=30, deadline=None)
@given(st.lists(_word, min_size=1, max_size=20))
def test_encode_roundtrip_property(words):
    merges = train_bpe([" ".join(words)], n_merges=20)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in words:
        assert "".join(encode_word(w, ranks)) == w
