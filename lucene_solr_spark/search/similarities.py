"""Alternative similarities through the Searcher's scoring slot.

The engine's scoring pipeline is three reusable pieces — pruned postings
lookup (Searcher._postings_for), per-term scalar weights from broadcast
collection stats, and a vectorized per-(term, doc) score column folded
by one groupBy(doc_id) — so a Similarity is just a different scalar
formula bound into the same pipeline (the custom-Similarity extension
point, lucene/core/.../search/similarities/Similarity.java).

ClassicSimilarity here is Lucene 4.0's DefaultSimilarity /
TFIDFSimilarity (DefaultSimilarity.java:31-79, TFIDFSimilarity.java):

  idf(t)       = ln(N / (df + 1)) + 1
  tf(freq)     = sqrt(freq)
  norm(d)      = decode(norm_byte) = 1 / sqrt(quantized_dl)
                 (same floatToByte315 byte the index already stores)
  queryNorm(q) = 1 / sqrt(sum_t (idf(t) * boost(t))^2)
  coord(q,d)   = overlap / maxOverlap
  score(q,d)   = coord * queryNorm
                 * sum_t tf(t,d) * idf(t)^2 * boost(t) * norm(d)

Arithmetic is IEEE-double in the same textual order as the SQL oracle
(oracles.tfidf_or), mirroring the Searcher's default double mode.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.literals import const_array
from ..index.norms import NORM_TABLE
from .executor import Searcher


def lm_dirichlet_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    mu: float = 2000.0,
) -> DataFrame:
    """Top-k for OR(terms) under LMDirichletSimilarity (mu=2000) — a
    third Similarity through the slot, exercising collection-level
    language-model stats (ttf + sumTotalTermFreq) the TF-IDF/BM25 paths
    never read.

    Formula (lucene/core/.../similarities/LMDirichletSimilarity.java:58-76
    with LMSimilarity.DefaultCollectionModel:
    p(t|C) = (ttf+1)/(sumTotalTermFreq+1)):

      w(t,d)   = max(0, ln(1 + tf/(mu*p(t|C))) + ln(mu/(dl+mu)))
      score(d) = sum over matched terms of boost * w(t,d)

    dl is the quantized doc length decoded from the stored norm byte —
    identical quantization to the BM25 path. Same physical plan: pruned
    postings scan -> vectorized per-(term,doc) column -> ONE
    groupBy(doc_id) shuffle -> top-k.
    """
    idx = searcher.index
    stats = idx.term_stats(sorted(set(terms)))
    present = sorted(t for t in set(terms) if t in stats)
    if not present:
        return idx.spark.createDataFrame([], "doc_id long, score double")
    sttf = float(idx.stats.sum_total_term_freq)
    # mu * p(t|C) precomputed per term as a double literal
    mu_pc = {
        t: mu * ((stats[t][1] + 1.0) / (sttf + 1.0)) for t in present
    }
    wmap = F.create_map(
        *[x for t in present for x in (F.lit(t), F.lit(mu_pc[t]))]
    )
    qdl_arr = const_array(NORM_TABLE.tolist(), "double")
    dl = F.element_at(qdl_arr, F.col("norm_byte") + 1)
    partial = (
        searcher._postings_for(present)
        .select("term", "doc_id", "tf", "norm_byte")
        .withColumn(
            "partial",
            F.greatest(
                F.lit(0.0),
                F.log(
                    F.lit(1.0)
                    + F.col("tf").cast("double") / wmap[F.col("term")]
                )
                + F.log(F.lit(mu) / (dl + F.lit(mu))),
            ),
        )
    )
    scored = partial.groupBy("doc_id").agg(F.sum("partial").alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def dfr_inl2_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    c: float = 1.0,
) -> DataFrame:
    """Top-k for OR(terms) under DFR InL2 — divergence-from-randomness
    with the inverse-document-frequency basic model I(n), Laplace after
    effect L, and H2 length normalization (the standard "InL2" triple).

    Formula (lucene/core/.../similarities/DFRSimilarity.java:99-110,
    BasicModelIn.java:30-36, AfterEffectL.java:27-31,
    NormalizationH2.java:34-39, all composed exactly as
    DFRSimilarity.score does):

      tfn      = tf * log2(1 + c * avgdl / dl)        (H2)
      basic    = tfn * log2((N + 1) / (df + 0.5))     (I(n))
      gain     = 1 / (1 + tfn)                        (L)
      w(t,d)   = gain * basic
      score(d) = sum over matched terms of boost * w(t,d)

    log2 is written ln(x)/ln(2) in the same textual order as the SQL
    oracle (oracles.dfr_inl2_or); dl is the quantized doc length from
    the stored norm byte, identical to every other similarity here.
    Fourth Similarity through the slot — same physical plan: pruned
    postings scan -> vectorized per-(term,doc) column -> ONE
    groupBy(doc_id) shuffle -> top-k.
    """
    idx = searcher.index
    stats = idx.term_stats(sorted(set(terms)))
    present = sorted(t for t in set(terms) if t in stats)
    if not present:
        return idx.spark.createDataFrame([], "doc_id long, score double")
    n = idx.stats.max_doc
    # double-precision avgdl in the oracle's textual order (sumTTF /
    # maxDoc), matching Searcher.avgdl64 — NOT the float32 stats field
    avgdl = float(idx.stats.sum_total_term_freq) / float(n) if n else 1.0
    ln2 = math.log(2.0)
    # per-term basic-model factor log2((N+1)/(df+0.5)) as a double literal
    basic = {
        t: math.log((n + 1.0) / (stats[t][0] + 0.5)) / ln2
        for t in present
    }
    wmap = F.create_map(
        *[x for t in present for x in (F.lit(t), F.lit(basic[t]))]
    )
    qdl_arr = const_array(NORM_TABLE.tolist(), "double")
    dl = F.element_at(qdl_arr, F.col("norm_byte") + 1)
    tfn = (
        F.col("tf").cast("double")
        * F.log(F.lit(1.0) + F.lit(c) * F.lit(avgdl) / dl)
        / F.lit(ln2)
    )
    partial = (
        searcher._postings_for(present)
        .select("term", "doc_id", "tf", "norm_byte")
        .withColumn(
            "partial",
            (tfn / (F.lit(1.0) + tfn)) * wmap[F.col("term")],
        )
    )
    scored = partial.groupBy("doc_id").agg(F.sum("partial").alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def ib_ll_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    c: float = 1.0,
) -> DataFrame:
    """Top-k for OR(terms) under the information-based IB similarity
    with log-logistic distribution, document-frequency lambda, and H2
    length normalization — "IB LL-D(F) H2", the fifth Similarity
    through the slot, completing the DFR/IB/LM families.

    Formula (lucene/core/.../similarities/IBSimilarity.java:98-103,
    DistributionLL.java:33-35 (-ln(lambda/(tfn+lambda)), written as the
    equal-quotient ln((tfn+lambda)/lambda) in BOTH engines so the
    double rounding matches), LambdaDF.java:32-34, NormalizationH2.java
    :52-54):

      tfn      = tf * log2(1 + c * avgdl / dl)       (H2)
      lambda   = (df + 1) / (N + 1)                  (D_F)
      w(t,d)   = ln((tfn + lambda) / lambda)         (LL)
      score(d) = sum over matched terms of boost * w(t,d)
    """
    idx = searcher.index
    stats = idx.term_stats(sorted(set(terms)))
    present = sorted(t for t in set(terms) if t in stats)
    if not present:
        return idx.spark.createDataFrame([], "doc_id long, score double")
    n = idx.stats.max_doc
    avgdl = float(idx.stats.sum_total_term_freq) / float(n) if n else 1.0
    ln2 = math.log(2.0)
    lam = {t: (stats[t][0] + 1.0) / (n + 1.0) for t in present}
    wmap = F.create_map(
        *[x for t in present for x in (F.lit(t), F.lit(lam[t]))]
    )
    qdl_arr = const_array(NORM_TABLE.tolist(), "double")
    dl = F.element_at(qdl_arr, F.col("norm_byte") + 1)
    tfn = (
        F.col("tf").cast("double")
        * F.log(F.lit(1.0) + F.lit(c) * F.lit(avgdl) / dl)
        / F.lit(ln2)
    )
    lam_col = wmap[F.col("term")]
    partial = (
        searcher._postings_for(present)
        .select("term", "doc_id", "tf", "norm_byte")
        .withColumn("partial", F.log((tfn + lam_col) / lam_col))
    )
    scored = partial.groupBy("doc_id").agg(F.sum("partial").alias("score"))
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def classic_idf(df: int, n: int) -> float:
    """DefaultSimilarity.idf: ln(numDocs/(docFreq+1)) + 1."""
    return math.log(float(n) / (df + 1.0)) + 1.0


def tfidf_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    boosts: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k for OR(terms) under ClassicSimilarity — the second
    Similarity through the slot. Same physical plan as the BM25 OR path
    (ONE union-free pruned scan + ONE groupBy(doc_id) shuffle + top-k).
    """
    idx = searcher.index
    boosts = boosts or {}
    stats = idx.term_stats(sorted(set(terms)))
    present = sorted(t for t in set(terms) if t in stats)
    if not present:
        return idx.spark.createDataFrame([], "doc_id long, score double")
    n = idx.stats.max_doc
    idfs = {t: classic_idf(stats[t][0], n) for t in present}
    # queryNorm over ALL query terms (absent terms have df=0 -> idf of
    # df=0 still defined; Lucene computes weights for present terms via
    # TermStatistics with df=0 giving idf = ln(N/1)+1 — include them)
    sumsq = 0.0
    for t in sorted(set(terms)):
        b = boosts.get(t, 1.0)
        ti = idfs.get(t, classic_idf(0, n))
        sumsq += (ti * b) * (ti * b)
    query_norm = 1.0 / math.sqrt(sumsq)
    max_overlap = len(set(terms))

    # per-(term, doc) partial: sqrt(tf) * idf^2 * boost * 1/sqrt(qdl)
    wmap = F.create_map(
        *[
            x
            for t in present
            for x in (
                F.lit(t),
                F.lit(idfs[t] * idfs[t] * boosts.get(t, 1.0)),
            )
        ]
    )
    inv_sqrt_qdl = [1.0 / math.sqrt(float(v)) for v in NORM_TABLE.tolist()]
    norm_arr = const_array(inv_sqrt_qdl, "double")
    partial = (
        searcher._postings_for(present)
        .select("term", "doc_id", "tf", "norm_byte")
        .withColumn(
            "partial",
            F.sqrt(F.col("tf").cast("double"))
            * wmap[F.col("term")]
            * F.element_at(norm_arr, F.col("norm_byte") + 1),
        )
    )
    scored = partial.groupBy("doc_id").agg(
        (
            F.lit(query_norm)
            * (
                F.countDistinct("term").cast("double")
                / F.lit(float(max_overlap))
            )
            * F.sum("partial")
        ).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_no_norms_search(
    searcher: Searcher, terms: list[str], k: int = 10
) -> DataFrame:
    """BM25 over an omitNorms field — "there are no norms, we act as if
    b=0" (BM25Similarity.java ExactBM25DocScorerNoNorms:255-281): the
    denominator loses the length normalization entirely, score =
    idf * (k1+1) * tf / (tf + k1). Same pruned-postings pipeline; the
    norm byte on the posting rows is simply never read (a real
    omitNorms index stores none)."""
    qterms = sorted(set(terms))
    stats = searcher.index.term_stats(qterms)
    present = [t for t in qterms if t in stats]
    if not present:
        return searcher.index.spark.createDataFrame(
            [], "doc_id long, score double"
        )
    wmap = F.create_map(
        *[
            x
            for t in present
            for x in (
                F.lit(t),
                F.lit(searcher._idf64(stats[t][0]) * (1.2 + 1)),
            )
        ]
    )
    p = searcher._postings_for(present).select("term", "doc_id", "tf")
    tfq = F.col("tf").cast("double")
    scored = p.select(
        "doc_id",
        (wmap[F.col("term")] * tfq / (tfq + F.lit(1.2))).alias("score"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(F.sum("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def sweetspot_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    ln_min: int = 1,
    ln_max: int = 1,
    steepness: float = 0.5,
    tf_base: float = 0.0,
    tf_min: float = 0.0,
) -> DataFrame:
    """SweetSpotSimilarity (lucene/misc/src/java/org/apache/lucene/
    misc/SweetSpotSimilarity.java:46-160) — DefaultSimilarity with a
    plateau length norm and a baseline tf:

      lengthNorm(x) = 1/sqrt(steepness*(|x-min|+|x-max|-(max-min))+1)
        (:125-155 — flat 1.0 inside [min,max], sloping off outside)
      baselineTf(freq) = base                      if freq <= min
                         sqrt(freq + base^2 - min) otherwise (:172-190;
        degrades to sqrt(freq) at base=min=0)

    Same pipeline as tfidf_search (one pruned scan + one groupBy).
    Deviation noted for parity: the reference byte-encodes
    lengthNorm(dl) at index time; this engine stores the quantized dl
    and computes lengthNorm at query time — the same 8-bit
    quantization channel applied to dl instead of the norm (the SQL
    oracle defines the identical arithmetic)."""
    idx = searcher.index
    stats = idx.term_stats(sorted(set(terms)))
    present = sorted(t for t in set(terms) if t in stats)
    if not present:
        return idx.spark.createDataFrame([], "doc_id long, score double")
    n = idx.stats.max_doc
    idfs = {t: classic_idf(stats[t][0], n) for t in present}
    sumsq = 0.0
    for t in sorted(set(terms)):
        ti = idfs.get(t, classic_idf(0, n))
        sumsq += ti * ti
    query_norm = 1.0 / math.sqrt(sumsq)
    max_overlap = len(set(terms))

    lo, hi, steep = float(ln_min), float(ln_max), float(steepness)
    length_norms = [
        1.0
        / math.sqrt(
            steep * (abs(x - lo) + abs(x - hi) - (hi - lo)) + 1.0
        )
        for x in (float(v) for v in NORM_TABLE.tolist())
    ]
    norm_arr = const_array(length_norms, "double")
    wmap = F.create_map(
        *[
            x
            for t in present
            for x in (F.lit(t), F.lit(idfs[t] * idfs[t]))
        ]
    )
    tfd = F.col("tf").cast("double")
    baseline_tf = F.when(
        tfd <= F.lit(float(tf_min)), F.lit(float(tf_base))
    ).otherwise(
        F.sqrt(tfd + F.lit(float(tf_base * tf_base - tf_min)))
    )
    partial = (
        searcher._postings_for(present)
        .select("term", "doc_id", "tf", "norm_byte")
        .withColumn(
            "partial",
            baseline_tf
            * wmap[F.col("term")]
            * F.element_at(norm_arr, F.col("norm_byte") + 1),
        )
    )
    scored = partial.groupBy("doc_id").agg(
        (
            F.lit(query_norm)
            * (
                F.countDistinct("term").cast("double")
                / F.lit(float(max_overlap))
            )
            * F.sum("partial")
        ).alias("score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
