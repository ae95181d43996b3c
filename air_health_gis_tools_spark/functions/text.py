"""Text-analysis kernels for web-scale training-data pipelines.

All built-in-first: token counting is a pure Catalyst expression (JVM-side,
whole-stage-codegen'd — UDFs are the slow path). Language ID and simhash are
Arrow kernels (batched NumPy / pandas string ops, no per-row Python).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

# --------------------------------------------------------------------------
# built-in-expression functions (JVM side)
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def token_count(text: Column) -> Column:
    """Whitespace token count; split semantics chosen to match ANSI SQL
    (DuckDB ``string_split``): empty string → 1 empty token."""
    return F.size(F.split(text, " "))


# --------------------------------------------------------------------------
# language ID — n-gram heuristic (Arrow kernel)
# --------------------------------------------------------------------------

_LANG_MARKERS = {
    "en": (" the ", " and ", " of "),
    "de": (" der ", " und ", " ist "),
    "fr": (" le ", " les ", " est "),
    "es": (" el ", " los ", " es "),
    "zh": ("一", "的", "是"),
}


def lang_id_udf():
    """Marker-n-gram language guess; deterministic argmax with fixed
    language order tie-break, 'und' when no marker hits."""
    langs = sorted(_LANG_MARKERS)

    @F.pandas_udf(T.StringType())
    def _lang(text: pd.Series) -> pd.Series:
        t = " " + text.fillna("") + " "
        scores = np.zeros((len(t), len(langs)), dtype=np.int64)
        for li, lang in enumerate(langs):
            for marker in _LANG_MARKERS[lang]:
                scores[:, li] += t.str.count(marker, flags=0).to_numpy()
        best = np.argmax(scores, axis=1)
        hit = scores.max(axis=1) > 0
        out = np.where(hit, np.array(langs, dtype=object)[best], "und")
        return pd.Series(out)

    return _lang


# --------------------------------------------------------------------------
# simhash — 64-bit near-dup fingerprint (Arrow kernel)
# --------------------------------------------------------------------------

def _hash64_tokens(tokens: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit FNV-1a over token bytes, vectorized per batch."""
    out = np.empty(len(tokens), dtype=np.uint64)
    for i, tok in enumerate(tokens):  # per unique token, not per row
        h = np.uint64(0xCBF29CE484222325)
        for b in tok.encode("utf-8"):
            h = np.uint64((int(h) ^ b) * 0x100000001B3 & 0xFFFFFFFFFFFFFFFF)
        out[i] = h
    return out


def simhash_udf():
    """64-bit simhash over whitespace tokens: per-bit majority vote of token
    hashes. Token hashing is done once per *unique* token in the batch."""
    @F.pandas_udf(T.LongType())
    def _simhash(text: pd.Series) -> pd.Series:
        tok_lists = text.fillna("").str.split()
        flat = [tok for toks in tok_lists for tok in toks]
        uniq, inv = np.unique(np.array(flat, dtype=object), return_inverse=True) \
            if flat else (np.array([], dtype=object), np.array([], dtype=int))
        hashes = _hash64_tokens(uniq)
        bits = ((hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int64) * 2 - 1  # ±1 per bit
        res = np.zeros(len(text), dtype=np.uint64)
        pos = 0
        for row, toks in enumerate(tok_lists):
            k = len(toks)
            if k == 0:
                continue
            votes = bits[inv[pos:pos + k]].sum(axis=0)
            pos += k
            word = np.uint64(0)
            for bi in range(64):
                if votes[bi] > 0:
                    word |= np.uint64(1) << np.uint64(bi)
            res[row] = word
        return pd.Series(res.astype(np.int64))

    return _simhash
