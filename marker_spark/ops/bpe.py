"""Learned byte-pair-encoding tokenization.

What an LLM-data pipeline actually runs (vs the package's deterministic
hash tokenizer, ``tokenize.py``): TRAIN a merge table on a bounded
corpus sample, then APPLY it corpus-wide.

Scale shape:

* Training is driver-side over a BOUNDED, deterministically-chosen
  sample (md5 bottom-k docs, capped total chars) — the standard
  practice even at 100 TB: BPE vocabularies are trained on samples of
  at most a few GB, never the full corpus.  The trainer uses the
  incremental pair-count algorithm (only words containing the merged
  pair are recounted), so sample size × n_merges stays cheap.
* Application is distributed: the merge table (a few thousand string
  pairs) broadcasts in the UDF closure; each worker encodes DISTINCT
  words once per batch (factorize + per-word memo — Zipf makes the
  cache hit rate extreme) and documents are reassembled from word
  codes.  Python is unavoidable here (BPE's loop-carried merge order
  can't be expressed in Catalyst), so the entry is Arrow-batched.

Word-level BPE (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"): pre-tokenize on whitespace, learn
merges word-internally, deterministic tie-break (count desc, then
lexicographically smallest pair) so a retrain on the same sample is
byte-identical.
"""

from __future__ import annotations

from collections import Counter, defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# training (driver-side, bounded sample)
# --------------------------------------------------------------------------

def train_bpe(texts, n_merges: int = 200, max_chars: int = 2_000_000) -> list[tuple[str, str]]:
    """Learn `n_merges` merges from an iterable of strings (truncated
    at max_chars total).  Returns the ordered merge list."""
    word_freq: Counter = Counter()
    seen = 0
    for t in texts:
        if not t:
            continue
        seen += len(t)
        word_freq.update(t.split())
        if seen >= max_chars:
            break
    # symbol sequences per distinct word
    words: list[list[str]] = [list(w) for w in word_freq]
    freqs = list(word_freq.values())

    pair_counts: Counter = Counter()
    pair_words: defaultdict[tuple, set] = defaultdict(set)
    for wi, syms in enumerate(words):
        f = freqs[wi]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += f
            pair_words[(a, b)].add(wi)

    def _remove_word_pairs(wi: int) -> None:
        syms, f = words[wi], freqs[wi]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] -= f
            if pair_counts[(a, b)] <= 0:
                del pair_counts[(a, b)]
            s = pair_words.get((a, b))
            if s is not None:
                s.discard(wi)

    def _add_word_pairs(wi: int) -> None:
        syms, f = words[wi], freqs[wi]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] += f
            pair_words[(a, b)].add(wi)

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        # deterministic: highest count, then lexicographically smallest
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        for wi in list(pair_words.get(best, ())):
            _remove_word_pairs(wi)
            syms = words[wi]
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == best[0] and syms[i + 1] == best[1]:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[wi] = out
            _add_word_pairs(wi)
        pair_words.pop(best, None)
    return merges


def train_bpe_from_df(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = 200,
    sample_docs: int = 2_000,
    max_chars: int = 2_000_000,
) -> list[tuple[str, str]]:
    """Bounded deterministic sample -> merges.  The sample is the md5
    bottom-k of doc ids (rerun-stable, engine-independent), collected
    ordered so truncation at max_chars is deterministic too."""
    sample = (
        docs.select(
            F.col(text_col).alias("__t"),
            F.md5(F.col(id_col).cast("string")).alias("__r"),
        )
        .orderBy("__r")
        .limit(sample_docs)
        .collect()
    )
    return train_bpe((r["__t"] for r in sample), n_merges, max_chars)


# --------------------------------------------------------------------------
# application (distributed, Arrow-batched, memoized per distinct word)
# --------------------------------------------------------------------------

def encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE encode: repeatedly merge the lowest-rank adjacent
    pair (all its occurrences) until no ranked pair remains."""
    syms = list(word)
    while len(syms) >= 2:
        best_rank, best_pair = None, None
        for pair in zip(syms, syms[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, pair
        if best_pair is None:
            break
        merged = best_pair[0] + best_pair[1]
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best_pair:
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_tokens_col(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """(id_col, out_col array<string>): the learned-BPE token sequence
    per document.  Only (id, text) enters the Arrow path and only
    (id, tokens) leaves it — the `_map_shingle_batches` discipline
    (ops/dedup.py): round-tripping untouched columns through
    Python<->JVM costs ~25-35 MB/s for nothing; join back on id_col if
    callers need more columns.  Each batch encodes each distinct word
    once through a per-worker memo (bounded; Zipf makes the hit rate
    extreme); tokens rebuild as one Arrow ListArray (no per-row Python
    objects crossing back)."""
    import pyarrow as pa

    ranks = {p: i for i, p in enumerate(merges)}
    memo: dict[str, list[str]] = {}
    id_type = df.schema[id_col].dataType.simpleString()

    def batch_fn(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            texts = batch.column(1).to_pylist()
            offsets = [0]
            flat: list[str] = []
            for t in texts:
                toks: list[str] = []
                if isinstance(t, str) and t:
                    for w in t.split():
                        enc = memo.get(w)
                        if enc is None:
                            if len(memo) >= 1_000_000:  # bound worker memory
                                memo.clear()
                            enc = memo[w] = encode_word(w, ranks)
                        toks.extend(enc)
                flat.extend(toks)
                offsets.append(len(flat))
            arr = pa.ListArray.from_arrays(
                pa.array(offsets, type=pa.int32()), pa.array(flat, type=pa.string())
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), arr], names=[id_col, out_col]
            )

    src = df.select(F.col(id_col), F.col(text_col).alias("__text"))
    return src.mapInArrow(batch_fn, schema=f"`{id_col}` {id_type}, {out_col} array<string>")
