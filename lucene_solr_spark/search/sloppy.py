"""Sloppy phrase matching — SloppyPhraseScorer semantics, re-implemented.

Reference: lucene/core/src/java/org/apache/lucene/search/
SloppyPhraseScorer.java:75-105 (phraseFreq), PhrasePositions.java:72-74
(position = raw position - query offset), PhraseQueue.java lessThan
(order by position, then offset). Slop factor 1/(distance+1):
lucene/core/.../search/similarities/BM25Similarity.java:70-73 sloppyFreq.

Semantics replicated exactly — including the documented asymmetries of
the greedy min-advancing walk ("a b"~2 matching "x a b a y" twice) AND
the repeated-term (hasRpts) path: repeat groups are PPs sharing a term,
sorted by query offset (sortRptGroups); per-doc init advances the j-th
group member j times so all start at distinct document positions
(advanceRepeatGroups, SloppyPhraseScorer.java:252-287); during the walk
a collision (two same-group PPs on one document position, collide() via
tpPos == position + offset) is resolved by advancing the lesser of the
pair by (position, offset) until collision-free (advanceRpts,
SloppyPhraseScorer.java:119-151). Lucene's rptStack re-queue dance
exists only to restore heap invariants after in-place position
mutation; the scan-selected queue here needs no equivalent.

freq accumulates in float32, matching Lucene's float arithmetic.
"""

from __future__ import annotations

import heapq
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def sloppy_freq(plists: list[np.ndarray], slop: int) -> float:
    """phraseFreq for one document.

    ``plists[i]`` = sorted adjusted positions (raw - i) of clause i; all
    lists non-empty. Returns the float32-accumulated sloppy frequency
    (0.0 if no window within slop).
    """
    n = len(plists)
    if n == 1:
        # degenerate 1-clause phrase: every position is a zero-width
        # match, slop factor 1/(0+1) — freq == tf. (Lucene rewrites this
        # to TermQuery before scoring; kept as a guard for direct calls.)
        return float(len(plists[0]))
    ptrs = [0] * n
    end = None
    heap = []
    for i, arr in enumerate(plists):
        p = int(arr[0])
        heap.append((p, i))
        if end is None or p > end:
            end = p
    heapq.heapify(heap)
    freq = np.float32(0.0)
    pos, ti = heapq.heappop(heap)
    match_length = end - pos
    next_pos = heap[0][0]
    while True:
        # advancePP (SloppyPhraseScorer.java:107-115)
        ptrs[ti] += 1
        arr = plists[ti]
        if ptrs[ti] >= len(arr):
            break
        p = int(arr[ptrs[ti]])
        if p > end:
            end = p
        if p > next_pos:  # done minimizing current match-length
            if match_length <= slop:
                freq = np.float32(
                    freq + np.float32(1.0) / np.float32(match_length + 1)
                )
            heapq.heappush(heap, (p, ti))
            pos, ti = heapq.heappop(heap)
            next_pos = heap[0][0]
            match_length = end - pos
        else:
            ml2 = end - p
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq = np.float32(
            freq + np.float32(1.0) / np.float32(match_length + 1)
        )
    return float(freq)


def sloppy_freq_rpts(
    plists: list[np.ndarray],
    slop: int,
    rpt_groups: list[list[int]],
) -> float:
    """phraseFreq for one document, repeated-term (hasRpts) path.

    ``plists[i]`` = sorted ADJUSTED positions (raw - i) of clause i, all
    non-empty. ``rpt_groups`` = clause offsets sharing a term, each
    sorted ascending (sortRptGroups orders by query offset).

    Faithful walk of SloppyPhraseScorer.java:75-151 + initComplex
    (:218-287): per-doc init advances group member j by j steps; every
    advance of a repeater resolves collisions (same document position =
    equal tpPos) by advancing the lesser PP by (position, offset).
    """
    n = len(plists)
    idx = [0] * n
    pos = [int(p[0]) for p in plists]

    group_of: dict[int, int] = {}
    for g, rg in enumerate(rpt_groups):
        for off in rg:
            group_of[off] = g

    def advance(i: int) -> bool:
        idx[i] += 1
        if idx[i] >= len(plists[i]):
            return False
        pos[i] = int(plists[i][idx[i]])
        return True

    # initComplex: placeFirstPositions done above; advanceRepeatGroups
    for rg in rpt_groups:
        for j in range(1, len(rg)):
            for _ in range(j):
                if not advance(rg[j]):
                    return 0.0
    end = max(pos)
    in_queue = set(range(n))

    def advance_pp(i: int) -> bool:
        nonlocal end
        if not advance(i):
            return False
        if pos[i] > end:
            end = pos[i]
        return True

    def collide(i: int) -> int:
        """offset of a same-group pp on the same document position
        (tpPos = position + offset), or -1 (collide())."""
        g = group_of.get(i)
        if g is None:
            return -1
        tp = pos[i] + i
        for off in rpt_groups[g]:
            if off != i and pos[off] + off == tp:
                return off
        return -1

    def advance_rpts(i: int) -> bool:
        """advanceRpts: resolve the (single-at-a-time) collision chain
        by always advancing the lesser of the colliding pair."""
        cur = i
        while True:
            other = collide(cur)
            if other < 0:
                return True
            # lesser by (position, offset)
            cur = (
                cur
                if (pos[cur], cur) < (pos[other], other)
                else other
            )
            if not advance_pp(cur):
                return False

    # fillQueue + first pop (PhraseQueue order: position, then offset)
    pp = min(in_queue, key=lambda i: (pos[i], i))
    in_queue.discard(pp)
    match_length = end - pos[pp]
    next_pos = pos[min(in_queue, key=lambda i: (pos[i], i))]
    freq = np.float32(0.0)
    while True:
        if not advance_pp(pp):
            break
        if not advance_rpts(pp):
            break
        if pos[pp] > next_pos:
            if match_length <= slop:
                freq = np.float32(
                    freq + np.float32(1.0) / np.float32(match_length + 1)
                )
            in_queue.add(pp)
            pp = min(in_queue, key=lambda i: (pos[i], i))
            in_queue.discard(pp)
            next_pos = pos[min(in_queue, key=lambda i: (pos[i], i))]
            match_length = end - pos[pp]
        else:
            ml2 = end - pos[pp]
            if ml2 < match_length:
                match_length = ml2
    if match_length <= slop:
        freq = np.float32(
            freq + np.float32(1.0) / np.float32(match_length + 1)
        )
    return float(freq)


FREQ_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("tf", DoubleType()),
        StructField("norm_byte", IntegerType()),
    ]
)


def clause_rows(
    postings: pd.DataFrame, offsets: dict[str, list[int]]
) -> pd.DataFrame:
    """sloppy_freqs' input from a decoded postings frame: one row per
    (posting, clause its term fills) — a repeated term fills several —
    sorted by (doc_id, clause). ``offsets``: term -> clause offsets."""
    return (
        postings.assign(clause=postings["term"].map(offsets))
        .explode("clause")
        .astype({"clause": "int64"})
        .sort_values(["doc_id", "clause"], kind="stable")
    )


def sloppy_freqs(
    pdf: pd.DataFrame,
    n_clauses: int,
    slop: int,
    rpt_groups: list[list[int]] | None = None,
) -> pd.DataFrame:
    """(doc_id, tf, norm_byte) of every doc in ``pdf`` with a sloppy
    match. ``pdf`` holds rows (doc_id, clause, positions, norm_byte),
    every row of a doc in it, sorted by (doc_id, clause).

    ``rpt_groups``: clause offsets sharing a term (hasRpts path); empty
    or None selects the simple no-repeats walk.

    Doc boundaries and the per-doc distinct-clause count are found with
    numpy, so only docs holding every clause reach the per-doc walk."""
    rpt_groups = [sorted(g) for g in (rpt_groups or [])]
    doc = pdf["doc_id"].to_numpy(dtype=np.int64)
    clause = pdf["clause"].to_numpy(dtype=np.int64)
    positions = pdf["positions"].to_numpy()
    norm_byte = pdf["norm_byte"].to_numpy()
    out_doc, out_tf, out_nb = [], [], []
    if len(doc):
        new_doc = np.r_[True, doc[1:] != doc[:-1]]
        new_clause = new_doc | np.r_[True, clause[1:] != clause[:-1]]
        starts = np.flatnonzero(new_doc)
        ends = np.r_[starts[1:], len(doc)]
        n_distinct = np.add.reduceat(new_clause.astype(np.int64), starts)
        # a doc missing a clause has no phrase candidate
        for s, e in zip(
            starts[n_distinct == n_clauses], ends[n_distinct == n_clauses]
        ):
            plists = [None] * n_clauses
            for cl, plist in zip(clause[s:e], positions[s:e]):
                plists[cl] = np.asarray(plist, dtype=np.int64) - cl
            if rpt_groups:
                f = sloppy_freq_rpts(plists, slop, rpt_groups)
            else:
                f = sloppy_freq(plists, slop)
            if f > 0.0:
                out_doc.append(int(doc[s]))
                out_tf.append(f)
                out_nb.append(int(norm_byte[s]))
    return pd.DataFrame(
        {
            "doc_id": pd.Series(out_doc, dtype="int64"),
            "tf": pd.Series(out_tf, dtype="float64"),
            "norm_byte": pd.Series(out_nb, dtype="int32"),
        }
    )


def sloppy_freq_partitions(
    n_clauses: int, slop: int, rpt_groups: list[list[int]] | None = None
):
    """mapInPandas kernel (output FREQ_SCHEMA) running sloppy_freqs over
    rows hash-partitioned by doc_id and sorted by (doc_id, clause); a
    doc's rows never cross partitions, but may cross Arrow batches
    (carried)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            last_doc = pdf["doc_id"].iloc[-1]
            tail = (pdf["doc_id"].to_numpy() == last_doc)[::-1]
            n_tail = int(np.argmin(tail)) if not tail.all() else len(pdf)
            head = pdf.iloc[: len(pdf) - n_tail]
            carry = pdf.iloc[len(pdf) - n_tail :]
            if len(head):
                yield sloppy_freqs(head, n_clauses, slop, rpt_groups)
        if carry is not None and len(carry):
            yield sloppy_freqs(carry, n_clauses, slop, rpt_groups)

    return run
