"""Block-max WAND top-k over any index that speaks the split read
protocol (index/segments.py SplitIndex): a segment store, or the
near-real-time reader as a one-split index over its flat postings.

Reference semantics: Lucene 4.0 has multi-level skip lists only
(lucene/core/.../codecs/lucene40/Lucene40SkipListWriter.java:53-93); the
per-block impacts we persist (`max_tf`, `min_nb`, segments.py) follow
Block-Max WAND (Ding & Suel, SIGIR'11) as SURVEY.md §4.2 notes, with the
bound max_tf/(max_tf + cache[min_nb]) derived at query time from live
collection stats (monotone in tf, anti-monotone in the norm addend, so it
upper-bounds every (tf, norm) pair in the block).
The result must be IDENTICAL to the unpruned OR path — pruning is
score-safe, never approximate.

Spark-first shape (instead of doc-at-a-time pivoting, which is hostile to
a shuffle engine):

  Every posting row of doc d lives in split = d // SPLIT_RANGE for every
  term (the doc-range salt in segments.py), so a split is a self-contained
  scoring unit: scoring a split's blocks yields EXACT totals for its docs.

  1. metadata pass (no decode): per (term, split) max block bound
     ub[t,v] = w_t * max(ub_factor); per split tot[v] = Σ_t ub[t,v] —
     an upper bound on any doc score inside v.
  2. seed: fully score the single best split -> exact top-k there ->
     threshold θ (kth score). Valid globally: k docs with true
     score >= θ exist.
  3. prune: drop every split with tot[v] < θ (no doc there can enter
     top-k); fully score the survivors; merge with the seed; top-k.

  The seed walk runs only on an index of at least
  Searcher.MIN_ROUTE_SPLITS splits, and there only when the cost model
  below predicts it pays for its extra fetch; otherwise every candidate
  split is scored at once. On a one-split index that one fetch is
  exactly the exhaustive fetch. The metadata pass is one numpy kernel
  (split_bounds) over the per-term split metadata, memoized by
  SplitIndex.split_meta, so a warm query starts no job for it; OR, AND
  and phrase bounds all come from it. Each scoring step is one fetch
  of the chosen splits' postings:
    - within the driver-decode bound (decode_postings_local), the fetch
      is a pyarrow read of the query terms' parquet row groups on the
      driver (the bucket directories of a segment store, the live
      segments of the reader), which starts no Spark job, and the driver
      finishes the query in numpy (_split_topk): score with the
      Searcher's BM25 kernel, sum per doc in a fixed term order (or
      count phrase occurrences), take top-k by (score desc, doc_id asc)
      and return the k hits as a driver-side TopDocs, so a warm bounded
      query runs no Spark job and sends no py4j command at all;
    - above it, the Catalyst plan: the lazy fetch (mapInPandas decode of
      a segment store's blocks, a filter of the reader's flat
      postings), score, per-doc aggregate and TakeOrderedAndProject.
  At 10^12 docs / 2^20-wide splits the metadata side is ~10^6 rows per
  term-set — trivially collectable/broadcastable.
"""

from __future__ import annotations

import os
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..index.segments import SplitIndex
from .executor import Searcher, TopDocs, _clause_offsets
from .sloppy import clause_rows, sloppy_freqs

# ---- cost model for the seed-then-prune engagement decision -----------
# The two-phase walk adds one extra SEQUENTIAL Spark job (seed decode +
# driver collect) before the survivor job. It wins only when the decode
# work the metadata PREDICTS it can skip repays that fixed overhead.
# Both sides of the comparison are MEASURED, not guessed
# (tools/calibrate_wand.py; numbers recorded in BENCH.md):
#   _JOB_OVERHEAD_SEC        — scheduling+collect latency of one extra
#                              job on this master (local[8] calibration)
#   _DECODE_POSTINGS_PER_SEC — decode+score+agg throughput of the
#                              exhaustive one-shot path
#   _THETA_FRACTION          — conservative (low-quantile) ratio of the
#                              observed seed threshold θ to the best
#                              split's bound across the headline query
#                              set; predicted savings count only splits
#                              whose bound falls below θ̂ = frac·best,
#                              so the prediction UNDER-estimates and a
#                              predicted win is trustworthy.
# The decision uses ONLY the per-(split) block metadata the bound pass
# already collected — no extra scan. Deployments override via env: a
# real cluster has different job latency and per-core decode rate.
# ``force_prune=True`` (tests, plan audits) always runs the two-phase
# walk. Lucene floors skip lists on tiny segments the same way
# (skipInterval in Lucene40SkipListWriter.java:53-93); this replaces
# round-4's fixed _SEED_MIN_SPLITS/_SEED_MIN_POSTINGS constants with
# the measured break-even point.
# The same break-even also picks WHERE a postings fetch decodes
# (SplitIndex.decode_postings_local): a fetch of at most
# overhead_eq_postings() postings is read from parquet and decoded
# eagerly on the driver, because the JVM->Python task boundary of a
# mapInPandas stage costs about one such job overhead while the decode
# itself is small; the read starts no job, so the fetch also saves the
# scan job's own overhead. The read has a byte bound too,
# overhead_eq_bytes(): the compressed row groups it would touch (priced
# from the cached parquet footers before reading) must not take longer
# to read than one job's overhead at _DRIVER_READ_BYTES_PER_SEC, so a
# term set whose row groups are large (row-group statistics that admit
# many terms) keeps the scan instead. A routed query finishes
# such a fetch on the driver too (_split_topk: numpy score, per-doc sum
# or phrase count, sloppy walk, top-k), so it starts no Python worker
# and no job after the scan. Larger fetches keep the distributed
# mapInPandas decode and walk and the Catalyst aggregate and top-k.
# Driver memory is bounded by the same cap.
# Defaults measured 2026-08-19 on local[8] over the sf0.1 gate segment
# store (split_range=128): job overhead median 0.22 s; marginal decode
# throughput 12.8-13.8k postings/s (Δpostings/Δwall between 4- and
# 8-term one-shot runs — tiny 128-doc blocks put per-block Arrow/Python
# overhead in the marginal cost, which is exactly what the one-shot
# path pays here); realized θ/best-bound 0.705-0.821 over the headline
# OR/AND set → 0.8×min = 0.56. A production store (2^20-doc splits,
# larger blocks, JVM-side scheduling) has very different values — set
# the env overrides from tools/calibrate_wand.py on the target cluster.
_JOB_OVERHEAD_SEC = float(os.environ.get("LSS_WAND_JOB_OVERHEAD_SEC", "0.22"))
_DECODE_POSTINGS_PER_SEC = float(
    os.environ.get("LSS_WAND_DECODE_RATE", "13000")
)
_THETA_FRACTION = float(os.environ.get("LSS_WAND_THETA_FRACTION", "0.56"))
# Compressed parquet bytes per second one driver thread reads with
# pyarrow (DriverParquet.read over a segment store's block columns,
# footers cached): 24.4 MB/s measured 2026-10-19 by
# tools/calibrate_wand.py on 4 vCPUs over the sf0.1 gate store
# (BENCH.md), so the byte bound is 0.22 s x 24e6 = 5.3 MB.
_DRIVER_READ_BYTES_PER_SEC = 24e6


def overhead_eq_postings() -> float:
    """Fixed cost of the extra sequential job, in postings-equivalents."""
    return _JOB_OVERHEAD_SEC * _DECODE_POSTINGS_PER_SEC


def overhead_eq_bytes() -> float:
    """Compressed bytes the driver reads in one extra job's fixed
    overhead: the byte bound of a driver-side postings read."""
    return _JOB_OVERHEAD_SEC * _DRIVER_READ_BYTES_PER_SEC


def predicted_saving_postings(cands: list[tuple[float, int]]) -> int:
    """Metadata-predicted decode savings of the seed-then-prune walk.

    ``cands`` is [(score_upper_bound, num_postings)] sorted bound-desc.
    A split is predicted prunable when its bound cannot reach the
    conservative threshold estimate θ̂ = _THETA_FRACTION · best_bound
    (the seed split itself is always decoded)."""
    if len(cands) < 2:
        return 0
    theta_hat = float(cands[0][0]) * _THETA_FRACTION
    return sum(int(nd) for ub, nd in cands[1:] if float(ub) < theta_hat)


def seed_walk_predicted_win(cands: list[tuple[float, int]]) -> bool:
    """True iff the metadata cost model predicts the two-phase walk
    beats the one-shot decode: predicted skipped postings must repay
    the extra job's fixed overhead."""
    return predicted_saving_postings(cands) > overhead_eq_postings()


# ---- the shared walk and the driver finish ----------------------------


def _hits_topk(
    hits: tuple[np.ndarray, np.ndarray], k: int
) -> tuple[np.ndarray, np.ndarray]:
    """The k best (doc_id, score) by (score desc, doc_id asc) — the
    HitQueue order (HitQueue.java:76-81) the Catalyst plan sorts by."""
    doc_id, score = hits
    order = np.lexsort((doc_id, -score))[:k]
    return doc_id[order], score[order]


def _split_topk(
    searcher: Searcher,
    cands: list[tuple[int, float, int]],
    k: int,
    force_prune: bool,
    fetch,
    finish,
    plan,
    stats_out: dict | None,
) -> TopDocs:
    """Top-k over the candidate splits ``cands`` = [(split, score upper
    bound, postings)], bound-desc: all at once, or the seed-then-prune
    walk when forced, or when the index has at least
    Searcher.MIN_ROUTE_SPLITS splits and the walk is predicted to win.

    Each scoring step is ``fetch(splits)`` — the bounded driver fetch
    (decode_postings_local's frame, or None above the bound) — then
    ``finish(frame)``, the numpy (doc_id, score) arrays of every
    matching doc; an unbounded step is ``plan(splits)``, the Catalyst
    plan of the same (doc_id, score) rows. The walk's steps meet on the
    driver: an unbounded step gives its top-k as a k-row pull, which
    sets θ or merges with the other step's hits, so only a one-shot
    unbounded query returns a lazy plan."""

    def score(splits: list[int]):
        frame = fetch(splits)
        return plan(splits) if frame is None else finish(frame)

    def top(scored) -> TopDocs:
        if isinstance(scored, tuple):
            return searcher._top_docs(*_hits_topk(scored, k))
        return searcher._top_k(scored, k)

    def hits(scored) -> tuple[np.ndarray, np.ndarray]:
        if isinstance(scored, tuple):
            return _hits_topk(scored, k)
        table = searcher._top_k(scored, k).to_arrow()
        return table["doc_id"].to_numpy(), table["score"].to_numpy()

    if not force_prune and (
        searcher.index.n_splits < Searcher.MIN_ROUTE_SPLITS
        or not seed_walk_predicted_win([(ub, nd) for _, ub, nd in cands])
    ):
        if stats_out is not None:
            stats_out["splits_decoded"] = len(cands)
        return top(score([s for s, _, _ in cands]))

    # -- seed threshold from the best-bounded split -----------------------
    seed_split = cands[0][0]
    seed = hits(score([seed_split]))
    theta = float(seed[1][-1]) if len(seed[0]) == k else float("-inf")

    # -- prune + score survivors ------------------------------------------
    # the bound uses the float64 cache; in exact-float32 mode per-term
    # scores round to float32 and could exceed the real-valued bound by a
    # half-ulp — keep a tiny relative inflation so pruning stays safe
    survivors = [
        s
        for s, ub, _ in cands
        if s != seed_split and ub * (1.0 + 1e-6) + 1e-12 >= theta
    ]
    if stats_out is not None:
        stats_out["splits_decoded"] = 1 + len(survivors)
    if not survivors:
        return top(seed)
    rest = hits(score(survivors))
    return top(tuple(np.concatenate(p) for p in zip(seed, rest)))


def _sum_finish(
    searcher: Searcher,
    terms: list[str],
    weights: dict[str, float],
    require_all: bool,
):
    """Driver finish of a term disjunction (``require_all`` False) or
    conjunction: per-posting BM25 from the Searcher's kernel, summed per
    doc in ``terms`` order — in double, then cast to the score type, as
    the Catalyst sum does — keeping, for a conjunction, only docs that
    hold every term."""
    term_index = {t: i for i, t in enumerate(terms)}
    w = np.asarray([weights[t] for t in terms], dtype=searcher._score_dtype)

    def finish(frame: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        ti = frame["term"].map(term_index).to_numpy(dtype=np.int64)
        doc_id, col = np.unique(
            frame["doc_id"].to_numpy(dtype=np.int64), return_inverse=True
        )
        per_term = np.zeros((len(terms), len(doc_id)))
        per_term[ti, col] = searcher._term_scores(
            w[ti], frame["tf"].to_numpy(), frame["norm_byte"].to_numpy()
        )
        total = per_term[0].copy()
        for row in per_term[1:]:
            total += row
        if require_all:
            held = np.zeros(per_term.shape, dtype=bool)
            held[ti, col] = True
            keep = held.all(axis=0)
            doc_id, total = doc_id[keep], total[keep]
        return doc_id, total.astype(searcher._score_dtype)

    return finish


def _exact_phrase_freqs(
    frame: pd.DataFrame, offsets: dict[str, list[int]], n: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_id, tf, norm_byte) per doc with an exact phrase match — the
    numpy twin of Searcher._score_phrase: a doc's phrase freq is the
    number of adjusted positions (position - clause offset) at which
    all ``n`` clauses occur (ExactPhraseScorer.java:201-242)."""
    empty = np.zeros(0, dtype=np.int64)
    doc_id = frame["doc_id"].to_numpy(dtype=np.int64)
    term = frame["term"].to_numpy()
    positions = frame["positions"].to_numpy()
    docs, aposs, clauses = [], [], []
    for t, offs in offsets.items():
        plists = positions[term == t]
        if not len(plists):
            return empty, empty, empty
        pos = np.concatenate(plists).astype(np.int64)
        doc = np.repeat(doc_id[term == t], [len(p) for p in plists])
        for off in offs:
            docs.append(doc)
            aposs.append(pos - off)
            clauses.append(np.full(len(pos), off, dtype=np.int64))
    doc, apos, clause = (np.concatenate(a) for a in (docs, aposs, clauses))
    order = np.lexsort((clause, apos, doc))
    doc, apos, clause = doc[order], apos[order], clause[order]
    new_pair = np.r_[True, (doc[1:] != doc[:-1]) | (apos[1:] != apos[:-1])]
    distinct = new_pair | np.r_[True, clause[1:] != clause[:-1]]
    starts = np.flatnonzero(new_pair)
    n_clauses = np.add.reduceat(distinct.astype(np.int64), starts)
    hit_doc, tf = np.unique(doc[starts[n_clauses == n]], return_counts=True)
    first_doc, first_row = np.unique(doc_id, return_index=True)
    norm_byte = frame["norm_byte"].to_numpy(dtype=np.int64)[first_row]
    return hit_doc, tf, norm_byte[np.searchsorted(first_doc, hit_doc)]


def _phrase_finish(
    searcher: Searcher, terms: list[str], slop: int, term_stats: dict
):
    """Driver finish of a phrase: exact freqs (_exact_phrase_freqs) or
    the sloppy walk (sloppy.sloppy_freqs, hasRpts included), scored as
    Searcher._score_phrase_freqs scores them."""
    weight, cache = searcher._phrase_weight(terms, 1.0, term_stats)
    offsets = _clause_offsets(terms)
    rpt_groups = [v for v in offsets.values() if len(v) > 1]

    def finish(frame: pd.DataFrame) -> tuple[np.ndarray, np.ndarray]:
        if slop > 0:
            freqs = sloppy_freqs(
                clause_rows(frame, offsets), len(terms), slop, rpt_groups
            )
            doc_id, tf, norm_byte = (
                freqs[c].to_numpy() for c in ("doc_id", "tf", "norm_byte")
            )
        else:
            doc_id, tf, norm_byte = _exact_phrase_freqs(
                frame, offsets, len(terms)
            )
        return doc_id, searcher._phrase_scores(weight, cache, tf, norm_byte)

    return finish


class SplitBounds(NamedTuple):
    """Per split of a split_meta frame, in order of first appearance."""

    split: np.ndarray  # split id
    nt: np.ndarray  # terms present
    tot: np.ndarray  # Σ_t w_t · max ub_factor of t's rows
    tf_ub: np.ndarray  # min over terms of the term's max max_tf
    nb_min: np.ndarray  # min min_nb
    nd: np.ndarray  # Σ nd (postings)


def split_bounds(
    mdf: pd.DataFrame,
    cache64: np.ndarray,
    weights: dict[str, float] | None = None,
) -> SplitBounds:
    """The metadata pass over split_meta rows ``mdf`` (no decode): per
    split, the terms present, the score bound Σ_t w_t · max over t's
    rows of ub_factor = max_tf/(max_tf + cache64[min_nb]) (unit weights
    when ``weights`` is None), the phrase-freq bound min_t max max_tf,
    the smallest norm byte and the postings. One numpy pass: (split,
    term) pairs from np.unique, their maxima by maximum.at, and the
    per-split sums and minima by bincount and minimum.at."""
    terms, ti = np.unique(mdf["term"].to_numpy(), return_inverse=True)
    splits, first, si = np.unique(
        mdf["split"].to_numpy(dtype=np.int64),
        return_index=True,
        return_inverse=True,
    )
    pairs, pi = np.unique(si * len(terms) + ti, return_inverse=True)
    p_split, p_term = np.divmod(pairs, len(terms))
    max_tf = mdf["max_tf"].to_numpy(dtype=np.int64)
    min_nb = mdf["min_nb"].to_numpy(dtype=np.int64)
    ub_factor = max_tf / (max_tf + cache64[min_nb])
    p_ub = np.full(len(pairs), -np.inf)
    np.maximum.at(p_ub, pi, ub_factor)
    p_tf = np.zeros(len(pairs), dtype=np.int64)
    np.maximum.at(p_tf, pi, max_tf)
    w = (
        np.ones(len(terms))
        if weights is None
        else np.asarray([weights[t] for t in terms], dtype=np.float64)
    )
    n = len(splits)
    tf_ub = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(tf_ub, p_split, p_tf)
    nb_min = np.full(n, np.iinfo(np.int64).max)
    np.minimum.at(nb_min, si, min_nb)
    nd = np.zeros(n, dtype=np.int64)
    np.add.at(nd, si, mdf["nd"].to_numpy(dtype=np.int64))
    order = np.argsort(first, kind="stable")
    return SplitBounds(
        splits[order],
        np.bincount(p_split, minlength=n)[order],
        np.bincount(p_split, weights=p_ub * w[p_term], minlength=n)[order],
        tf_ub[order],
        nb_min[order],
        nd[order],
    )


def _split_bounds(
    searcher: Searcher, terms: list[str], weights: dict[str, float] | None
) -> SplitBounds:
    """split_bounds over the memoized split metadata of ``terms``, so a
    warm query starts no job for it."""
    return split_bounds(
        searcher.index.split_meta(terms), searcher.cache64, weights
    )


def _by_bound(
    split: np.ndarray, ub: np.ndarray, nd: np.ndarray
) -> list[tuple[int, float, int]]:
    """[(split, bound, postings)], bound-desc; ties keep their order."""
    order = np.argsort(-ub, kind="stable")
    return list(
        zip(split[order].tolist(), ub[order].tolist(), nd[order].tolist())
    )


def wand_or_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    force_prune: bool = False,
) -> TopDocs:
    """Top-k for OR(terms), rank-identical to
    ``searcher.search(Or(*terms), k)`` but decoding only splits whose
    block-max bound can beat the seed threshold."""
    index = searcher.index
    if not isinstance(index, SplitIndex):
        raise TypeError("wand_or_search needs a SplitIndex")
    term_stats = index.term_stats(sorted(set(terms)))
    # duplicate input terms: searcher.search(Or(*terms)) scores each
    # duplicate SHOULD clause and sums, so fold multiplicity into the
    # weight (k identical clauses contribute k * clause_score)
    mult: dict[str, int] = {}
    for t in terms:
        if t in term_stats:
            mult[t] = mult.get(t, 0) + 1
    present = list(mult)
    if not present:
        return searcher._top_docs()
    weights = {
        t: mult[t] * searcher._term_weight_value(t, term_stats, 1.0)
        for t in present
    }
    # -- 1. metadata-only bound per split --------------------------------
    b = _split_bounds(searcher, present, weights)
    cands = _by_bound(b.split, b.tot, b.nd)
    if not cands:
        return searcher._top_docs()

    def plan(split_ids: list[int]) -> DataFrame:
        decoded = index.decode_postings(present, splits=split_ids).select(
            "term", "doc_id", "tf", "norm_byte"
        )
        scored = searcher._apply_score_col(decoded, weights)
        return scored.groupBy("doc_id").agg(
            F.sum("score").cast(searcher._score_type).alias("score")
        )

    return _split_topk(
        searcher,
        cands,
        k,
        force_prune,
        lambda split_ids: index.decode_postings_local(
            present, splits=split_ids
        ),
        _sum_finish(searcher, present, weights, require_all=False),
        plan,
        None,
    )


def wand_and_search(
    searcher: Searcher,
    terms: list[str],
    k: int = 10,
    stats_out: dict | None = None,
    force_prune: bool = False,
) -> TopDocs:
    """Block-max pruned top-k for AND(terms) — rank-identical to
    ``searcher.search(BooleanQuery(MUST terms), k)``.

    The exhaustive conjunction decodes every posting of every MUST term
    before the groupBy can reject docs missing a term — on a
    common∧common query that is both full postings lists. Here the
    per-(term, split) block metadata (max_tf / min_nb, segments.py)
    prunes at the SPLIT level before any decode, mirroring
    ConjunctionScorer.doNext leapfrogging
    (lucene/core/src/java/org/apache/lucene/search/ConjunctionScorer.java:56-101)
    and the skip lists that make it cheap
    (lucene40/Lucene40SkipListWriter.java:53-93):

      1. presence prune: a split missing ANY must term cannot contain a
         conjunction match — dropped on metadata alone (the leapfrog:
         the rarest term's split set gates everything).
      2. score bound: over the surviving splits,
         tot[v] = Σ_t w_t * max_tf/(max_tf + cache[min_nb]) upper-bounds
         any doc's conjunction score inside v. Seed the threshold θ by
         exactly scoring the best-bounded split; drop every other split
         with tot[v] < θ; decode only the survivors.

    ``stats_out`` (optional dict) receives ``splits_any`` (splits where
    at least one term appears), ``splits_all`` (presence-surviving) and
    ``splits_decoded`` — the pytest hook proving decode work shrank.
    """
    index = searcher.index
    if not isinstance(index, SplitIndex):
        raise TypeError("wand_and_search needs a SplitIndex")
    musts = sorted(set(terms))
    if len(musts) != len(terms):
        raise ValueError("duplicate MUST terms are redundant in AND")
    n = len(musts)
    term_stats = index.term_stats(musts)
    if any(t not in term_stats for t in musts):
        # a df=0 MUST term empties the whole conjunction
        if stats_out is not None:
            stats_out.update(
                splits_any=0, splits_all=0, splits_decoded=0
            )
        return searcher._top_docs()
    weights = {
        t: searcher._term_weight_value(t, term_stats, 1.0) for t in musts
    }

    # -- 1. metadata pass: per-split presence + score upper bound --------
    # presence prune AND bound both come from the same memoized rows
    b = _split_bounds(searcher, musts, weights)
    held = b.nt == n
    cands = _by_bound(b.split[held], b.tot[held], b.nd[held])
    if stats_out is not None:
        stats_out.update(
            splits_any=len(b.split),
            splits_all=len(cands),
            splits_decoded=0,
        )
    if not cands:
        return searcher._top_docs()

    def plan(split_ids: list[int]) -> DataFrame:
        decoded = index.decode_postings(musts, splits=split_ids).select(
            "term", "doc_id", "tf", "norm_byte"
        )
        scored = searcher._apply_score_col(decoded, weights)
        return (
            scored.groupBy("doc_id")
            .agg(
                F.sum("score").cast(searcher._score_type).alias("score"),
                F.countDistinct("term").alias("nt"),
            )
            .where(F.col("nt") == F.lit(n))
            .select("doc_id", "score")
        )

    return _split_topk(
        searcher,
        cands,
        k,
        force_prune,
        lambda split_ids: index.decode_postings_local(
            musts, splits=split_ids
        ),
        _sum_finish(searcher, musts, weights, require_all=True),
        plan,
        stats_out,
    )


class _SplitView:
    """Read-only facade over a SplitIndex restricted to a split set:
    postings decode only the given splits, while collection/term stats
    stay GLOBAL so BM25 weights are identical to the full index. Splits
    are self-contained scoring units (every posting of doc d lives in
    split d // split_range for every term), so phrase/conjunction
    scoring inside the view is exact for the view's docs. A view is
    scored only when its fetch is above the driver bound, so it offers
    no driver-side fetch and a sloppy phrase walks in mapInPandas."""

    def __init__(self, seg: SplitIndex, splits: list[int]):
        self._seg = seg
        self._splits = list(splits)
        self.spark = seg.spark
        self.docs = seg.docs
        self.stats = seg.stats
        self.terms_stats = seg.terms_stats

    def postings_for_terms(
        self, terms: list[str], want_positions: bool = False
    ):
        return self._seg.postings_for_terms(
            terms, want_positions, splits=self._splits
        )

    def term_stats(self, terms: list[str]):
        return self._seg.term_stats(terms)


def wand_phrase_search(
    searcher: Searcher,
    terms: list[str],
    slop: int = 0,
    k: int = 10,
    stats_out: dict | None = None,
    force_prune: bool = False,
) -> TopDocs:
    """Block-max pruned top-k for a PhraseQuery — rank-identical to
    ``searcher.search(PhraseQuery(terms, slop), k)``.

    The exhaustive phrase path decodes positions for every split any
    constituent term touches. Metadata prunes twice before any decode:

      1. presence: a split missing ANY constituent term cannot contain
         the phrase (ExactPhraseScorer/SloppyPhraseScorer advance via
         ConjunctionScorer-style leapfrogging — same presence logic).
      2. score bound: phrase freq in a doc <= min term tf <= min over
         terms of the split's max_tf, and the slop factor adds <= 1 per
         match, so weight * tf_ub/(tf_ub + cache[min_nb]) upper-bounds
         any doc's phrase score in the split (weight = boost * Σidf *
         (k1+1), BM25Similarity.idfExplain:185-196). Seed θ from the
         best split, decode only survivors.

    A bounded fetch is finished on the driver (_phrase_finish); a larger
    one goes through the ordinary phrase scorer over a _SplitView. Both
    keep the exact/sloppy/hasRpts semantics of Searcher._score_phrase.
    """
    import math

    from .query import PhraseQuery

    index = searcher.index
    if not isinstance(index, SplitIndex):
        raise TypeError("wand_phrase_search needs a SplitIndex")
    if not index.keep_positions:
        raise ValueError("phrase search needs a positions-bearing store")
    distinct = sorted(set(terms))
    n = len(distinct)
    term_stats = index.term_stats(distinct)
    if any(t not in term_stats for t in distinct):
        if stats_out is not None:
            stats_out.update(splits_any=0, splits_all=0, splits_decoded=0)
        return searcher._top_docs()

    # summed-idf weight, double path (mirrors _score_phrase_freqs)
    w = 0.0
    for t in terms:
        df_ = term_stats[t][0]
        w += math.log(
            1 + (index.stats.max_doc - df_ + 0.5) / (df_ + 0.5)
        )
    weight = w * (1.2 + 1)

    # phrase freq <= min term tf <= min_t max max_tf in the split
    b = _split_bounds(searcher, distinct, None)
    held = b.nt == n
    tf_ub = b.tf_ub[held].astype(np.float64)
    candidates = _by_bound(
        b.split[held],
        weight * tf_ub / (tf_ub + searcher.cache64[b.nb_min[held]]),
        b.nd[held],
    )
    if stats_out is not None:
        stats_out.update(
            splits_any=len(b.split),
            splits_all=len(candidates),
            splits_decoded=0,
        )
    if not candidates:
        return searcher._top_docs()

    q = PhraseQuery(list(terms), slop=slop)

    def plan(split_ids: list[int]) -> DataFrame:
        view = _SplitView(index, split_ids)
        return Searcher(view, searcher.exact).score(q)

    return _split_topk(
        searcher,
        candidates,
        k,
        force_prune,
        lambda split_ids: index.decode_postings_local(
            distinct, want_positions=True, splits=split_ids
        ),
        _phrase_finish(searcher, list(terms), slop, term_stats),
        plan,
        stats_out,
    )
