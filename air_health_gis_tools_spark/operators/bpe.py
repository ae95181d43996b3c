"""Byte-pair-encoding tokenizer: sample-trained merges, distributed apply.

The missing piece between the engine's token COUNTING surfaces (q20
whitespace/regex counts) and a training pipeline's real tokenizer: BPE
(Sennrich et al. 2016, the construction under GPT-2/SentencePiece-BPE
vocabularies).

Spark-first split, mirroring the IVF/SemDeDup recipe exactly:

    * TRAINING is driver-side on a bounded ``orderBy(id).limit`` sample
      (pinned membership and order — the engine-wide LIMIT rule). This is
      also how production tokenizers are built: merges come from a corpus
      SAMPLE, never a full 100 TB pass.
    * APPLICATION is the distributed part that must scale: the merge
      table broadcasts with the UDF closure, tokenization runs per Arrow
      batch with a per-word memo (web text repeats words heavily — the
      memo turns per-word cost into per-DISTINCT-word cost per batch).

Determinism: greedy BPE with an exact total order — highest pair count
first, ties broken by the lexicographically smallest pair. Training and
application are pure-Python/NumPy integer+string ops: bit-identical on
driver and executors, so the q94 golden (driver replay) pins the
distributed path.

Word-boundary convention: text splits on single spaces; each word is
tokenized independently with a trailing end-of-word marker "</w>" (the
original Sennrich formulation — merges never cross word boundaries).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

EOW = "</w>"
SAMPLE_N = 256


def _word_symbols(word: str) -> tuple[str, ...]:
    if not word:
        return (EOW,)
    return tuple(word[:-1]) + (word[-1] + EOW,)


def bpe_train_merges(texts: list[str] | np.ndarray,
                     n_merges: int) -> list[tuple[str, str]]:
    """Greedy BPE merge list from a (bounded) text sample.

    Exact total order per step: max pair count, ties to the
    lexicographically smallest (a, b). Word frequencies are aggregated
    first, so cost per step is O(|distinct words|)."""
    from collections import Counter

    words = Counter()
    for t in texts:
        for w in str(t).split(" "):
            words[_word_symbols(w)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for sym, cnt in words.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        out = Counter()
        for sym, cnt in words.items():
            res = []
            i = 0
            while i < len(sym):
                if (i + 1 < len(sym)
                        and sym[i] == best[0] and sym[i + 1] == best[1]):
                    res.append(merged)
                    i += 2
                else:
                    res.append(sym[i])
                    i += 1
            out[tuple(res)] += cnt
        words = out
    return merges


def bpe_apply_word(word: str, rank: dict[tuple[str, str], int]
                   ) -> list[str]:
    """Tokenize ONE word: repeatedly merge the lowest-rank adjacent pair
    (all its occurrences, left to right) — the standard BPE apply."""
    sym = list(_word_symbols(word))
    while len(sym) > 1:
        best_rank = None
        best_pair = None
        for a, b in zip(sym, sym[1:]):
            r = rank.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        merged = best_pair[0] + best_pair[1]
        res = []
        i = 0
        while i < len(sym):
            if (i + 1 < len(sym)
                    and sym[i] == best_pair[0] and sym[i + 1] == best_pair[1]):
                res.append(merged)
                i += 2
            else:
                res.append(sym[i])
                i += 1
        sym = res
    return sym


def bpe_tokenize_np(texts: np.ndarray,
                    merges: list[tuple[str, str]]) -> tuple[np.ndarray,
                                                            np.ndarray]:
    """Vectorized-enough batch tokenization: (n_tokens, n_distinct_tokens)
    per text, with a per-call word memo (per-distinct-word cost)."""
    rank = {p: i for i, p in enumerate(merges)}
    memo: dict[str, list[str]] = {}
    n_tok = np.empty(len(texts), dtype=np.int64)
    n_distinct = np.empty(len(texts), dtype=np.int64)
    for j, t in enumerate(texts):
        toks: list[str] = []
        for w in str(t).split(" "):
            got = memo.get(w)
            if got is None:
                got = bpe_apply_word(w, rank)
                memo[w] = got
            toks.extend(got)
        n_tok[j] = len(toks)
        n_distinct[j] = len(set(toks))
    return n_tok, n_distinct


def bpe_token_stats(df: DataFrame, merges: list[tuple[str, str]]
                    ) -> DataFrame:
    """Distributed apply over ``text``: adds ``n_bpe_tokens`` /
    ``n_bpe_distinct``.

    The merge table rides the UDF closure broadcast (a vocabulary is
    KB-scale at any corpus size); tokenization is one Arrow-batched pass
    with no shuffle — the scalable half of the tokenizer."""

    @F.pandas_udf(StructType([
        StructField("n_bpe_tokens", IntegerType()),
        StructField("n_bpe_distinct", IntegerType())]))
    def _stats(texts: pd.Series) -> pd.DataFrame:
        n_tok, n_distinct = bpe_tokenize_np(texts.to_numpy(), merges)
        return pd.DataFrame({
            "n_bpe_tokens": n_tok.astype(np.int32),
            "n_bpe_distinct": n_distinct.astype(np.int32)})

    return df.withColumn("_bpe", _stats(F.col("text")))


def bpe_train_on_df(df: DataFrame, n_merges: int) -> list[tuple[str, str]]:
    """The bounded-sample training entry over ``text``: pinned
    ``orderBy(doc_id).limit``."""
    texts = [r[0] for r in df.select("text", "doc_id").orderBy("doc_id")
             .limit(SAMPLE_N).select("text").collect()]
    return bpe_train_merges(texts, n_merges)
