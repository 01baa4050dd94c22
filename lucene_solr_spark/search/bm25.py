"""BM25 scoring math — float32 order-of-operations identical to
lucene/core/.../search/similarities/BM25Similarity.java.

  idf   = (float) log(1 + (N - df + 0.5)/(df + 0.5))          [:65-68]
          computed in double, cast to float32; N = maxDoc.
  avgdl = (float)(sumTotalTermFreq / (double) maxDoc)          [:83-90]
  cache[i] = k1 * ((1-b) + b * NORM_TABLE[i] / avgdl)          [:205-210]
  weightValue = boost * idf * (k1 + 1)                         [:239]
  score = weightValue * freq / (freq + cache[normByte])        [:246]

Defaults k1=1.2, b=0.75 (BM25Similarity.java:62-63). Multi-term idf is the
float32 sum of per-term idfs (idfExplain loop, BM25Similarity.java:185-196).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..index.norms import NORM_TABLE

K1_DEFAULT = 1.2
B_DEFAULT = 0.75


def idf(df: int | np.ndarray, max_doc: int) -> np.float32 | np.ndarray:
    """BM25Similarity.idf (double math, float cast) — :65-68."""
    df = np.asarray(df, dtype=np.float64)
    val = np.log(1.0 + (max_doc - df + 0.5) / (df + 0.5))
    return val.astype(np.float32)


def bm25_score(weight, freq, norm_add, dtype) -> np.ndarray:
    """weight * freq / (freq + norm_add), every operand and operation in
    ``dtype`` — the score line (:246) as one vectorized kernel.
    float32 is ExactBM25DocScorer.score; float64 is the same order of
    operations as the double Catalyst expression, so the two agree to
    the last ulp."""
    weight = np.asarray(weight, dtype=dtype)
    freq = np.asarray(freq, dtype=dtype)
    return weight * freq / (freq + np.asarray(norm_add, dtype=dtype))


def avg_field_length(sum_total_term_freq: int, max_doc: int) -> np.float32:
    """BM25Similarity.avgFieldLength — :83-90."""
    if sum_total_term_freq <= 0:
        return np.float32(1.0)
    return np.float32(sum_total_term_freq / float(max_doc))


@dataclass(frozen=True)
class BM25Weight:
    """Per-(query,term) precomputed weight — the SimWeight/BM25Stats
    analogue (BM25Similarity.java:202-213,239). ``cache`` is the 256-entry
    freq-independent denominator table, shared across terms of a query.
    """

    weight_value: np.float32  # boost * idf * (k1 + 1)
    cache: np.ndarray  # float32[256]

    def score(self, freq: np.ndarray, norm_byte: np.ndarray) -> np.ndarray:
        """ExactBM25DocScorer.score (BM25Similarity.java:239-247), float32."""
        freq = np.asarray(freq, dtype=np.float32)
        denom_add = self.cache[np.asarray(norm_byte, dtype=np.int64) & 0xFF]
        return (self.weight_value * freq / (freq + denom_add)).astype(
            np.float32
        )


def norm_cache(
    avgdl: np.float32, k1: float = K1_DEFAULT, b: float = B_DEFAULT
) -> np.ndarray:
    """cache[i] = k1 * ((1-b) + b * NORM_TABLE[i] / avgdl), float32
    (BM25Similarity.java:205-210)."""
    k1f = np.float32(k1)
    bf = np.float32(b)
    one = np.float32(1.0)
    return (k1f * ((one - bf) + bf * NORM_TABLE / np.float32(avgdl))).astype(
        np.float32
    )


def term_weight(
    df: int,
    max_doc: int,
    avgdl: np.float32,
    boost: float = 1.0,
    k1: float = K1_DEFAULT,
    b: float = B_DEFAULT,
) -> BM25Weight:
    w = np.float32(boost) * idf(df, max_doc) * np.float32(k1 + 1.0)
    return BM25Weight(weight_value=np.float32(w), cache=norm_cache(avgdl, k1, b))
