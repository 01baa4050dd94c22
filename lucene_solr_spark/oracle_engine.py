"""Independent single-node oracle (pure Python + numpy, NO Spark).

The dual-implementation oracle mirrors the reference's test strategy
(SURVEY.md §5; lucene/test-framework/.../search/CheckHits.java:161-208 —
docIDs exact, scores within tolerance). It implements exactly the cited
BM25/analyzer semantics via a completely different execution strategy
(python dicts + numpy), so agreement with the Spark engine is meaningful.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from .analysis.tokenizer import analyze
from .index.norms import encode_norm
from .search.bm25 import avg_field_length, term_weight


# ---------------------------------------------------------------------
# Line-by-line Java transliteration of SloppyPhraseScorer (hasRpts path):
# real binary heap (PriorityQueue.java add/pop/upHeap/downHeap),
# PhrasePositions objects, the rptStack re-queue dance — everything the
# production scan-queue walk (search/sloppy.py) optimizes away. The
# oracle scores repeated-term phrases with it, and tests/test_sloppy.py
# pins the production walk to it over randomized inputs.
# ---------------------------------------------------------------------


class _PP:
    """PhrasePositions.java: position = raw - offset."""

    def __init__(self, arr, offset):
        self.arr, self.offset = arr, offset
        self.i = -1
        self.position = 0
        self.rptGroup = -1
        self.rptInd = -1

    def firstPosition(self):
        self.i = -1
        self.nextPosition()

    def nextPosition(self):
        self.i += 1
        if self.i < len(self.arr):
            self.position = int(self.arr[self.i]) - self.offset
            return True
        return False


class _PQ:
    """PriorityQueue.java binary heap with PhraseQueue.lessThan."""

    def __init__(self, max_size):
        self.heap = [None] * (max_size + 1)
        self.size = 0

    @staticmethod
    def lessThan(a, b):
        if a.position == b.position:
            return a.offset < b.offset
        return a.position < b.position

    def add(self, el):
        self.size += 1
        self.heap[self.size] = el
        self._up()

    def top(self):
        return self.heap[1]

    def pop(self):
        r = self.heap[1]
        self.heap[1] = self.heap[self.size]
        self.heap[self.size] = None
        self.size -= 1
        self._down()
        return r

    def clear(self):
        self.size = 0

    def _up(self):
        i = self.size
        node = self.heap[i]
        j = i >> 1
        while j > 0 and self.lessThan(node, self.heap[j]):
            self.heap[i] = self.heap[j]
            i = j
            j >>= 1
        self.heap[i] = node

    def _down(self):
        i = 1
        node = self.heap[i]
        j = i << 1
        k = j + 1
        if k <= self.size and self.lessThan(self.heap[k], self.heap[j]):
            j = k
        while j <= self.size and self.lessThan(self.heap[j], node):
            self.heap[i] = self.heap[j]
            i = j
            j = i << 1
            k = j + 1
            if k <= self.size and self.lessThan(
                self.heap[k], self.heap[j]
            ):
                j = k
        self.heap[i] = node


def java_sloppy_freq(terms, term_positions, slop):
    """Transliterated SloppyPhraseScorer.phraseFreq for one doc.
    ``term_positions[t]`` = sorted raw positions of term t."""
    from collections import Counter, defaultdict

    n = len(terms)
    pps = [_PP(term_positions[t], i) for i, t in enumerate(terms)]
    for pp in pps:
        pp.firstPosition()
    cnt = Counter(terms)
    groups = defaultdict(list)
    for pp, t in zip(pps, terms):
        if cnt[t] >= 2:
            groups[t].append(pp)
    rptGroups = []
    for t in groups:
        rg = sorted(groups[t], key=lambda p: p.offset)
        for j, pp in enumerate(rg):
            pp.rptGroup = len(rptGroups)
            pp.rptInd = j
        rptGroups.append(rg)
    hasRpts = bool(rptGroups)
    end = -(10**9)

    def advancePP(pp):
        nonlocal end
        if not pp.nextPosition():
            return False
        if pp.position > end:
            end = pp.position
        return True

    for rg in rptGroups:  # advanceRepeatGroups (non-MTP branch)
        for j in range(1, len(rg)):
            for _ in range(j):
                if not rg[j].nextPosition():
                    return 0.0
    pq = _PQ(n)
    pq.clear()
    for pp in pps:  # fillQueue
        if pp.position > end:
            end = pp.position
        pq.add(pp)

    def tpPos(pp):
        return pp.position + pp.offset

    def collide(pp):
        for pp2 in rptGroups[pp.rptGroup]:
            if pp2 is not pp and tpPos(pp2) == tpPos(pp):
                return pp2.rptInd
        return -1

    def lesser(a, b):
        if a.position < b.position or (
            a.position == b.position and a.offset < b.offset
        ):
            return a
        return b

    rptStack = [None] * n

    def advanceRpts(pp):
        if pp.rptGroup < 0:
            return True
        rg = rptGroups[pp.rptGroup]
        bits = set()
        k0 = pp.rptInd
        while True:
            k = collide(pp)
            if k < 0:
                break
            pp = lesser(pp, rg[k])
            if not advancePP(pp):
                return False
            if k != k0:
                bits.add(k)
        m = 0
        while bits:  # re-queue dance
            pp2 = pq.pop()
            rptStack[m] = pp2
            m += 1
            if pp2.rptGroup >= 0 and pp2.rptInd in bits:
                bits.discard(pp2.rptInd)
        for i in range(m - 1, -1, -1):
            pq.add(rptStack[i])
        return True

    freq = np.float32(0.0)
    pp = pq.pop()
    matchLength = end - pp.position
    nxt = pq.top().position
    while advancePP(pp):
        if hasRpts and not advanceRpts(pp):
            break
        if pp.position > nxt:
            if matchLength <= slop:
                freq = np.float32(
                    freq + np.float32(1.0) / np.float32(matchLength + 1)
                )
            pq.add(pp)
            pp = pq.pop()
            nxt = pq.top().position
            matchLength = end - pp.position
        else:
            ml2 = end - pp.position
            if ml2 < matchLength:
                matchLength = ml2
    if matchLength <= slop:
        freq = np.float32(
            freq + np.float32(1.0) / np.float32(matchLength + 1)
        )
    return float(freq)



class OracleIndex:
    """In-memory inverted index over a pandas docs frame."""

    def __init__(self, docs: pd.DataFrame, doc_id_col: str = "doc_id",
                 text_col: str = "text"):
        self.postings: dict[str, list[tuple[int, int, list[int]]]] = {}
        self.dl: dict[int, int] = {}
        for doc_id, text in zip(docs[doc_id_col], docs[text_col]):
            doc_id = int(doc_id)
            terms, positions = analyze(text if isinstance(text, str) else "")
            self.dl[doc_id] = len(terms)
            by_term: dict[str, list[int]] = {}
            for t, p in zip(terms, positions):
                by_term.setdefault(t, []).append(p)
            for t, plist in by_term.items():
                self.postings.setdefault(t, []).append(
                    (doc_id, len(plist), plist)
                )
        for plist in self.postings.values():
            plist.sort(key=lambda x: x[0])
        self.max_doc = len(docs)
        self.sum_ttf = int(sum(self.dl.values()))
        self.avgdl = avg_field_length(self.sum_ttf, self.max_doc)
        all_ids = np.asarray(sorted(self.dl), dtype=np.int64)
        dls = np.asarray([self.dl[i] for i in all_ids], dtype=np.int64)
        norm_bytes = encode_norm(dls)
        self.norm_byte = dict(zip(all_ids.tolist(), norm_bytes.tolist()))

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))

    def term_scores(self, term: str, boost: float = 1.0) -> dict[int, np.float32]:
        plist = self.postings.get(term)
        if not plist:
            return {}
        w = term_weight(len(plist), self.max_doc, self.avgdl, boost=boost)
        doc_ids = np.asarray([p[0] for p in plist], dtype=np.int64)
        tfs = np.asarray([p[1] for p in plist], dtype=np.int64)
        nb = np.asarray([self.norm_byte[d] for d in doc_ids], dtype=np.int64)
        scores = w.score(tfs, nb)
        return dict(zip(doc_ids.tolist(), scores))

    # --- query evaluation (each returns {doc_id: float32 score}) ---

    def query_term(self, term: str) -> dict[int, np.float32]:
        return self.term_scores(term)

    def query_and(self, terms: list[str]) -> dict[int, np.float32]:
        per = [self.term_scores(t) for t in terms]
        if not per or any(not p for p in per):
            return {}
        common = set(per[0])
        for p in per[1:]:
            common &= set(p)
        return {d: np.float32(sum(float(p[d]) for p in per)) for d in common}

    def query_or(self, terms: list[str], min_should_match: int = 1
                 ) -> dict[int, np.float32]:
        per = [self.term_scores(t) for t in terms]
        acc: dict[int, float] = {}
        nmatch: dict[int, int] = {}
        for p in per:
            for d, s in p.items():
                acc[d] = acc.get(d, 0.0) + float(s)
                nmatch[d] = nmatch.get(d, 0) + 1
        return {
            d: np.float32(s)
            for d, s in acc.items()
            if nmatch[d] >= min_should_match
        }

    def query_not(self, must: list[str], must_not: list[str]
                  ) -> dict[int, np.float32]:
        pos = self.query_and(must)
        excl: set[int] = set()
        for t in must_not:
            for p in self.postings.get(t, ()):
                excl.add(p[0])
        return {d: s for d, s in pos.items() if d not in excl}

    def query_dismax(self, terms: list[str], tie: float = 0.0
                     ) -> dict[int, np.float32]:
        """DisjunctionMaxQuery: max + tie * (sum - max)
        (lucene/core/.../search/DisjunctionMaxQuery.java)."""
        per = [self.term_scores(t) for t in terms]
        best: dict[int, float] = {}
        total: dict[int, float] = {}
        for p in per:
            for d, s in p.items():
                s = float(s)
                best[d] = max(best.get(d, 0.0), s)
                total[d] = total.get(d, 0.0) + s
        return {
            d: np.float32(best[d] + tie * (total[d] - best[d])) for d in best
        }

    def query_phrase(self, terms: list[str]) -> dict[int, np.float32]:
        """Exact phrase (slop=0): adjacency via position deltas
        (lucene/core/.../search/ExactPhraseScorer.java:201-242); idf = sum
        of constituent-term idfs (BM25Similarity.idfExplain:185-196); score
        uses phraseFreq as freq."""
        plists = [self.postings.get(t) for t in terms]
        if any(p is None for p in plists):
            return {}
        idx = [{d: set(pos) for d, _tf, pos in p} for p in plists]
        common = set(idx[0])
        for m in idx[1:]:
            common &= set(m)
        from .search.bm25 import idf as idf_fn, norm_cache
        import numpy as _np
        w = _np.float32(0.0)
        for t in terms:
            w = _np.float32(w + idf_fn(self.df(t), self.max_doc))
        weight_value = _np.float32(w * _np.float32(1.2 + 1.0))
        cache = norm_cache(self.avgdl)
        out: dict[int, np.float32] = {}
        for d in common:
            first = idx[0][d]
            freq = 0
            for p0 in first:
                if all(p0 + i in idx[i][d] for i in range(1, len(terms))):
                    freq += 1
            if freq:
                nb = self.norm_byte[d]
                f32 = _np.float32(freq)
                out[d] = _np.float32(
                    weight_value * f32 / (f32 + cache[nb & 0xFF])
                )
        return out

    def _sloppy_walk(self, pls: list[list[int]], slop: int) -> float:
        """Greedy min-advancing walk — direct transcription of
        SloppyPhraseScorer.phraseFreq (SloppyPhraseScorer.java:75-105,
        no-repeats path), implemented with linear min-scans (not a heap)
        so it is structurally independent of search/sloppy.py."""
        n = len(pls)
        if n == 1:
            return float(len(pls[0]))  # 1-clause guard, matches sloppy.py
        cur = [pls[i][0] for i in range(n)]
        ptr = [0] * n
        end = max(cur)
        inq = set(range(n))

        def popmin() -> int:
            best = min(inq, key=lambda i: (cur[i], i))
            inq.remove(best)
            return best

        pp = popmin()
        match_length = end - cur[pp]
        nxt = min(cur[i] for i in inq)
        freq = np.float32(0.0)
        while True:
            ptr[pp] += 1
            if ptr[pp] >= len(pls[pp]):
                break
            cur[pp] = pls[pp][ptr[pp]]
            if cur[pp] > end:
                end = cur[pp]
            if cur[pp] > nxt:
                if match_length <= slop:
                    freq = np.float32(
                        freq + np.float32(1.0) / np.float32(match_length + 1)
                    )
                inq.add(pp)
                pp = popmin()
                nxt = min(cur[i] for i in inq)
                match_length = end - cur[pp]
            else:
                ml2 = end - cur[pp]
                if ml2 < match_length:
                    match_length = ml2
        if match_length <= slop:
            freq = np.float32(
                freq + np.float32(1.0) / np.float32(match_length + 1)
            )
        return float(freq)

    def query_phrase_sloppy(
        self, terms: list[str], slop: int
    ) -> dict[int, np.float32]:
        """Sloppy phrase: freq = Σ 1/(distance+1) over locally-minimal
        windows (BM25Similarity.java:70-73 sloppyFreq); same weight as
        the exact phrase. A phrase that repeats a term runs the hasRpts
        walk (java_sloppy_freq), the no-repeats one otherwise."""
        plists = [self.postings.get(t) for t in terms]
        if any(p is None for p in plists):
            return {}
        idx = [{d: pos for d, _tf, pos in p} for p in plists]
        common = set(idx[0])
        for m in idx[1:]:
            common &= set(m)
        from .search.bm25 import idf as idf_fn, norm_cache
        import numpy as _np

        w = _np.float32(0.0)
        for t in terms:
            w = _np.float32(w + idf_fn(self.df(t), self.max_doc))
        weight_value = _np.float32(w * _np.float32(1.2 + 1.0))
        cache = norm_cache(self.avgdl)
        out: dict[int, np.float32] = {}
        repeats = len(set(terms)) < len(terms)
        for d in common:
            if repeats:
                # hasRpts: same-term clauses must sit on distinct
                # document positions (SloppyPhraseScorer.java:106-287)
                freq = java_sloppy_freq(
                    terms, {t: idx[i][d] for i, t in enumerate(terms)}, slop
                )
            else:
                pls = [
                    sorted(p - i for p in idx[i][d])
                    for i in range(len(terms))
                ]
                freq = self._sloppy_walk(pls, slop)
            if freq > 0.0:
                nb = self.norm_byte[d]
                f32 = _np.float32(freq)
                out[d] = _np.float32(
                    weight_value * f32 / (f32 + cache[nb & 0xFF])
                )
        return out

    def top_k(self, scores: dict[int, np.float32], k: int = 10
              ) -> list[tuple[int, float]]:
        """Tie-break: score desc, doc_id asc (HitQueue.java:76-81)."""
        items = sorted(scores.items(), key=lambda kv: (-float(kv[1]), kv[0]))
        return [(d, float(s)) for d, s in items[:k]]
