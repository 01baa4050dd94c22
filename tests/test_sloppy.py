"""Sloppy phrase (SloppyPhraseScorer semantics): hand-computed goldens
from the reference Javadoc, engine-vs-oracle rank identity, and the
documented greedy-walk asymmetries."""

import numpy as np
import pytest

# the line-by-line Java transliteration of SloppyPhraseScorer (hasRpts
# path) lives in the oracle, which scores repeated-term phrases with it
from lucene_solr_spark.oracle_engine import java_sloppy_freq
from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.query import PhraseQuery
from lucene_solr_spark.search.sloppy import sloppy_freq
from tests.conftest import assert_topk_equal


@pytest.fixture(scope="module")
def tiny_searcher(tiny_index):
    return Searcher(tiny_index, exact_float32=True)


def test_javadoc_example_a_b_slop2():
    """SloppyPhraseScorer.java:60-63: for "a b"~2, doc "x a b a y" scores
    twice — "a b" (distance 0) and "b a" (distance 2)."""
    # adjusted positions: a(off 0) at [1, 3]; b(off 1) at [2-1] = [1]
    f = sloppy_freq([np.array([1, 3]), np.array([1])], 2)
    assert abs(f - (1.0 + 1.0 / 3.0)) < 1e-6


def test_exact_adjacency_slop0_shape():
    # "a b" adjacent once -> distance 0 -> freq 1
    f = sloppy_freq([np.array([5]), np.array([5])], 0)
    assert f == 1.0
    # "b a" reversed at distance 2 under slop 0 -> no match
    f = sloppy_freq([np.array([2]), np.array([0])], 0)
    assert f == 0.0


def test_reversed_within_slop():
    # doc "b a": a at 1 (adj 1), b at 0 (adj -1): distance 2
    f = sloppy_freq([np.array([1]), np.array([-1])], 2)
    assert abs(f - 1.0 / 3.0) < 1e-6
    assert sloppy_freq([np.array([1]), np.array([-1])], 1) == 0.0


def test_oracle_walk_agrees_with_engine_kernel(tiny_oracle):
    """The two independent transcriptions of phraseFreq (heap vs
    min-scan) agree on random position lists."""
    rng = np.random.default_rng(11)
    for _ in range(200):
        n = int(rng.integers(2, 4))
        pls = []
        for i in range(n):
            k = int(rng.integers(1, 6))
            pls.append(np.sort(rng.choice(30, size=k, replace=False)) - i)
        slop = int(rng.integers(0, 6))
        a = sloppy_freq([np.asarray(p) for p in pls], slop)
        b = tiny_oracle._sloppy_walk([sorted(int(x) for x in p) for p in pls], slop)
        assert abs(a - b) < 1e-6, (pls, slop, a, b)


@pytest.mark.parametrize("terms,slop", [
    (["key", "order"], 1),
    (["key", "order"], 3),
    (["scan", "merge"], 2),
    (["error", "timeout"], 4),
])
def test_sloppy_rank_identity(tiny_searcher, tiny_oracle, terms, slop):
    got = tiny_searcher.search(PhraseQuery(terms, slop), 10).collect()
    want = tiny_oracle.top_k(tiny_oracle.query_phrase_sloppy(terms, slop), 10)
    assert_topk_equal(got, want)


def test_repeated_terms_now_supported(tiny_searcher):
    """hasRpts phrases no longer raise; they score via the repeat walk."""
    out = tiny_searcher.search(PhraseQuery(["error", "error"], 2), 10)
    assert out.schema.names == ["doc_id", "score"]
    out.collect()  # must execute without NotImplementedError


def _engine_freq(terms, term_positions, slop):
    from lucene_solr_spark.search.sloppy import (
        sloppy_freq,
        sloppy_freq_rpts,
    )

    plists = [
        np.asarray(term_positions[t], dtype=np.int64) - i
        for i, t in enumerate(terms)
    ]
    by_term = {}
    for i, t in enumerate(terms):
        by_term.setdefault(t, []).append(i)
    rpt_groups = [v for v in by_term.values() if len(v) > 1]
    if rpt_groups:
        return sloppy_freq_rpts(plists, slop, rpt_groups)
    return sloppy_freq(plists, slop)


def test_rpts_walk_matches_java_transliteration():
    """Production repeat walk (scan queue, no requeue dance) must equal
    the literal Java port over randomized repeated-term phrases."""
    import random

    rng = random.Random(42)
    shapes = [
        ["a", "a"],
        ["a", "a", "b"],
        ["a", "b", "a"],
        ["b", "a", "a"],
        ["a", "a", "a"],
        ["a", "b", "a", "b"],
        ["a", "a", "b", "b"],
        ["a", "b", "c", "a"],
    ]
    checked = 0
    for trial in range(3000):
        terms = rng.choice(shapes)
        uniq = sorted(set(terms))
        term_positions = {}
        ok = True
        for t in uniq:
            cnt = rng.randint(1, 6)
            term_positions[t] = sorted(
                rng.sample(range(0, 25), cnt)
            )
            # phraseFreq is only invoked on docs where every clause's
            # postings advanced to the doc; repeats need enough
            # occurrences only via init exhaustion (handled by both)
            if not term_positions[t]:
                ok = False
        if not ok:
            continue
        slop = rng.randint(0, 6)
        want = java_sloppy_freq(terms, term_positions, slop)
        got = _engine_freq(terms, term_positions, slop)
        assert got == pytest.approx(want, abs=0.0), (
            terms,
            term_positions,
            slop,
            got,
            want,
        )
        checked += 1
    assert checked >= 2500


def test_rpts_positive_freq_implies_valid_window():
    """Soundness: whenever the walk scores, a valid injective
    assignment (same-term clauses on distinct raw positions) with
    adjusted span <= slop must exist (brute-force enumeration)."""
    import itertools
    import random

    rng = random.Random(7)
    for trial in range(400):
        terms = rng.choice(
            [["a", "a", "b"], ["a", "b", "a"], ["a", "a"]]
        )
        term_positions = {
            t: sorted(rng.sample(range(0, 15), rng.randint(1, 5)))
            for t in sorted(set(terms))
        }
        slop = rng.randint(0, 4)
        f = _engine_freq(terms, term_positions, slop)
        if f <= 0.0:
            continue
        found = False
        for combo in itertools.product(
            *[term_positions[t] for t in terms]
        ):
            by_t = {}
            inj = True
            for i, t in enumerate(terms):
                if combo[i] in by_t.setdefault(t, set()):
                    inj = False
                    break
                by_t[t].add(combo[i])
            if not inj:
                continue
            adj = [combo[i] - i for i in range(len(terms))]
            if max(adj) - min(adj) <= slop:
                found = True
                break
        assert found, (terms, term_positions, slop, f)


def test_closed_form_equals_walk_2clause():
    """The SQL oracle's chain form must equal the greedy walk for 2
    distinct clauses — the proof backing oracles.bm25_phrase_sloppy:
    c0 = max of the two heads (tie -> clause 1), c_{k+1} = first element
    of the opposite list > c_k; each c_k emits dist = c_k - (last
    element of the other list <= c_k); freq = float32-ordered sum of
    1/(dist+1) over dists <= slop."""
    import numpy as np

    from lucene_solr_spark.search.sloppy import sloppy_freq

    def chain_freq(la, lb, slop):
        if la[0] > lb[0]:
            c, ccl = la[0], 0
        else:
            c, ccl = lb[0], 1
        dists = []
        while True:
            other = lb if ccl == 0 else la
            dists.append(c - [x for x in other if x <= c][-1])
            nxt = [x for x in (lb if ccl == 0 else la) if x > c]
            if not nxt:
                break
            c, ccl = nxt[0], 1 - ccl
        acc = np.float32(0.0)
        for d in dists:
            if d <= slop:
                acc = np.float32(acc + np.float32(1.0) / np.float32(d + 1))
        return float(acc)

    rng = np.random.default_rng(99)
    for trial in range(2000):
        na, nb = int(rng.integers(1, 9)), int(rng.integers(1, 9))
        a = sorted(rng.choice(40, size=na, replace=False).tolist())
        b = sorted(rng.choice(40, size=nb, replace=False).tolist())
        slop = int(rng.integers(0, 7))
        want = sloppy_freq(
            [np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)],
            slop,
        )
        got = chain_freq(a, b, slop)
        assert got == want, (trial, a, b, slop, got, want)


def _sloppy_freqs_loop(pdf, n_clauses, slop, rpt_groups):
    """The per-doc groupby loop that sloppy_freqs replaced, kept as the
    reference for its numpy doc boundaries and clause counts."""
    import pandas as pd

    from lucene_solr_spark.search.sloppy import sloppy_freq_rpts

    out_doc, out_tf, out_nb = [], [], []
    for doc_id, g in pdf.groupby("doc_id", sort=False):
        if g["clause"].nunique() != n_clauses:
            continue
        plists = [None] * n_clauses
        for cl, plist in zip(g["clause"], g["positions"]):
            plists[int(cl)] = np.asarray(plist, dtype=np.int64) - int(cl)
        if rpt_groups:
            f = sloppy_freq_rpts(plists, slop, rpt_groups)
        else:
            f = sloppy_freq(plists, slop)
        if f > 0.0:
            out_doc.append(int(doc_id))
            out_tf.append(f)
            out_nb.append(int(g["norm_byte"].iloc[0]))
    return pd.DataFrame(
        {
            "doc_id": pd.Series(out_doc, dtype="int64"),
            "tf": pd.Series(out_tf, dtype="float64"),
            "norm_byte": pd.Series(out_nb, dtype="int32"),
        }
    )


def test_sloppy_freqs_matches_groupby_loop():
    """Docs missing a clause, single-row docs, repeated terms and empty
    input: the vectorized sloppy_freqs equals the per-doc loop."""
    import pandas as pd

    from lucene_solr_spark.search.sloppy import clause_rows, sloppy_freqs

    rng = np.random.default_rng(5)
    shapes = [["a", "b"], ["a", "b", "c"], ["a", "b", "a"], ["a", "a"]]
    for trial in range(300):
        terms = shapes[trial % len(shapes)]
        rows = []
        for doc in range(int(rng.integers(0, 25))):
            for t in sorted(set(terms)):
                if rng.random() < 0.8:
                    k = int(rng.integers(1, 6))
                    pos = np.sort(rng.choice(30, size=k, replace=False))
                    rows.append((t, doc * 7, k, pos.astype(np.int32), doc % 5))
        frame = pd.DataFrame(
            rows, columns=["term", "doc_id", "tf", "positions", "norm_byte"]
        )
        offsets = {}
        for i, t in enumerate(terms):
            offsets.setdefault(t, []).append(i)
        rpt = [v for v in offsets.values() if len(v) > 1]
        walk_rows = clause_rows(frame, offsets)
        slop = int(rng.integers(0, 5))
        pd.testing.assert_frame_equal(
            sloppy_freqs(walk_rows, len(terms), slop, rpt),
            _sloppy_freqs_loop(walk_rows, len(terms), slop, rpt),
        )
