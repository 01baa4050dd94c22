"""Where a postings fetch decodes (SegmentIndex.decode_postings), and
where a routed query finishes.

A fetch of at most ``wand.overhead_eq_postings()`` postings is decoded
on the driver and returned as a local frame; a larger one keeps the
distributed ``mapInPandas`` decode. A bounded sloppy phrase also runs
its position walk on the driver, and a bounded routed query (wand.py)
scores and takes its top-k there, returning a TopDocs that holds its
hits on the driver. The two sides must be indistinguishable in results,
and the bounded side must leave no Python stage in the query plan."""

from __future__ import annotations

import pytest

from lucene_solr_spark.search import wand as W
from lucene_solr_spark.search.executor import Searcher, _collect_terms
from lucene_solr_spark.search.query import And, Or, PhraseQuery, TermQuery
from tests.conftest import assert_topk_equal

# plan-node names of the operators that run Python workers
PYTHON_NODES = ("MapInPandas", "MapInArrow", "EvalPython", "InPandas",
                "PythonUDF")

QUERIES = {
    "term": TermQuery("timeout"),
    "and": And("error", "timeout"),
    "or": Or("error", "timeout", "zzqabsent"),
    "phrase": PhraseQuery(["spill", "fill3"]),
    "sloppy": PhraseQuery(["fill7", "fill3"], slop=2),
    # a repeated term: the hasRpts walk
    "sloppy_rpt": PhraseQuery(["spill", "fill3", "spill"], slop=2),
}


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _set_bound(monkeypatch, postings: float) -> None:
    """Make overhead_eq_postings() exactly ``postings``."""
    monkeypatch.setattr(W, "_DECODE_POSTINGS_PER_SEC", 1.0)
    monkeypatch.setattr(W, "_JOB_OVERHEAD_SEC", float(postings))


def _fetch_size(seg, terms, splits=None) -> int:
    meta = seg.split_meta(terms)
    if splits is not None:
        meta = meta[meta["split"].isin(splits)]
    return int(meta["nd"].sum())


def _rows(df) -> set:
    return {
        (r["term"], r["doc_id"], r["tf"], r["norm_byte"],
         tuple(r["positions"] or ()))
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def seg(small_index, tmp_path_factory):
    from lucene_solr_spark.index.segments import write_segments

    d = str(tmp_path_factory.mktemp("driverdecode"))
    return write_segments(small_index, d, n_buckets=8, split_range=256)


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("family", sorted(QUERIES))
def test_driver_and_distributed_decode_same_topk(
    seg, monkeypatch, family, prune
):
    q = QUERIES[family]
    s = Searcher(seg)
    _set_bound(monkeypatch, 1e12)  # every fetch decodes on the driver
    driver = s.search(q, 10, prune=prune).collect()
    _set_bound(monkeypatch, 0.0)  # every fetch decodes distributed
    distributed = s.search(q, 10, prune=prune).collect()
    assert driver, family
    assert [r["doc_id"] for r in driver] == [
        r["doc_id"] for r in distributed
    ]
    for a, b in zip(driver, distributed):
        assert abs(a["score"] - b["score"]) <= 1e-9 * max(
            1.0, abs(b["score"])
        )


@pytest.mark.parametrize("splits", [None, [0, 3, 7]])
def test_fetch_at_bound_plus_minus_one(seg, monkeypatch, splits):
    terms = ["error", "timeout"]
    n = _fetch_size(seg, terms, splits)
    assert n > 0
    got = {}
    for delta in (-1, 0, 1):
        _set_bound(monkeypatch, n + delta)
        df = seg.decode_postings(terms, want_positions=True, splits=splits)
        plan = _plan(df)
        on_driver = delta >= 0  # at or under the bound
        assert ("LocalTableScan" in plan) == on_driver, plan
        assert ("MapInPandas" in plan) != on_driver, plan
        got[delta] = _rows(df)
    assert len(got[0]) == n
    assert got[-1] == got[0] == got[1]


def test_bloom_no_split_can_match_is_empty_local_frame(spark, tmp_path):
    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.index.segments import write_segments

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 7} word{i}") for i in range(400)],
        "doc_id long, text string",
    )
    seg = write_segments(
        build_index(spark, docs), str(tmp_path / "seg"),
        n_buckets=4, split_range=64,
    )
    seg.attach_blooms(build=True)
    absent = next(
        t for t in (f"qqz{i}absent" for i in range(100))
        if not seg.blooms.splits_for([t])
    )
    df = seg.postings_for_terms([absent], want_positions=True)
    plan = _plan(df)
    assert "LocalTableScan" in plan, plan
    assert not any(p in plan for p in PYTHON_NODES), plan
    assert df.count() == 0
    assert df.schema == seg.postings.schema


@pytest.mark.parametrize("family", ["sloppy", "sloppy_rpt"])
def test_sloppy_at_bound_plus_minus_one(seg, monkeypatch, family):
    """The sloppy walk runs on the driver exactly when its one fetch is
    at or under the bound, with the same top-k either side."""
    q = QUERIES[family]
    n = _fetch_size(seg, sorted(set(q.terms)))
    s = Searcher(seg)
    got = {}
    for delta in (-1, 0, 1):
        _set_bound(monkeypatch, n + delta)
        top = s.search(q, 10, prune=False)
        assert ("MapInPandas" in _plan(top.df)) == (delta < 0)
        got[delta] = [(r["doc_id"], r["score"]) for r in top.collect()]
    assert got[-1], family
    assert got[-1] == got[0] == got[1]


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("family", sorted(QUERIES))
def test_bounded_search_plan_has_no_python_node(seg, family, prune):
    """At the shipped constants these fetches are under the bound, so
    the whole top-k plan runs in the JVM, sloppy phrases included.
    (Exact-float32 mode keeps its scoring UDF.)"""
    q = QUERIES[family]
    assert _fetch_size(seg, sorted(_collect_terms(q))) <= (
        W.overhead_eq_postings()
    )
    plan = _plan(Searcher(seg).search(q, 10, prune=prune).df)
    assert "LocalTableScan" in plan, plan
    assert not any(p in plan for p in PYTHON_NODES), plan


# ---- the driver finish of a routed query (wand._split_topk) -----------


def _oracle_topk(oracle, q, k=10):
    if isinstance(q, TermQuery):
        scores = oracle.query_term(q.term)
    elif isinstance(q, PhraseQuery):
        scores = (
            oracle.query_phrase_sloppy(list(q.terms), q.slop)
            if q.slop
            else oracle.query_phrase(list(q.terms))
        )
    else:
        terms = [c.query.term for c in q.clauses]
        musts = all(c.occur == "MUST" for c in q.clauses)
        scores = oracle.query_and(terms) if musts else oracle.query_or(terms)
    return oracle.top_k(scores, k)


def _hits(df) -> list:
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def _finished_on_driver(top) -> bool:
    """The TopDocs holds its hits on the driver: its ``df`` is a bare
    local table of them, with no sort and no scan."""
    return _plan(top.df).lstrip().startswith("== Physical Plan ==\n"
                                              "LocalTableScan")


def _routed_fetch_size(seg, q) -> int:
    """Postings of a one-shot routed fetch: every split of an OR's
    terms; for AND and phrases only the splits that hold every term."""
    terms = sorted(_collect_terms(q))
    meta = seg.split_meta(terms)
    if isinstance(q, PhraseQuery) or (
        not isinstance(q, TermQuery)
        and all(c.occur == "MUST" for c in q.clauses)
    ):
        held = meta.groupby("split")["term"].nunique()
        meta = meta[meta["split"].isin(held[held == len(terms)].index)]
    return int(meta["nd"].sum())


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize("family", sorted(QUERIES))
def test_driver_finish_matches_every_reference(
    seg, small_oracle, monkeypatch, family, exact
):
    """At the shipped bound every family finishes on the driver, with
    the ids, order, scores and schema of the above-bound Catalyst route
    and of prune=False, and the top-k of OracleIndex."""
    q = QUERIES[family]
    s = Searcher(seg, exact_float32=exact)
    finish = s.search(q, 10)
    assert _finished_on_driver(finish), _plan(finish.df)
    got = _hits(finish)
    _set_bound(monkeypatch, 0.0)  # every fetch above the bound
    catalyst = s.search(q, 10)
    assert "TakeOrderedAndProject" in _plan(catalyst.df)
    exhaustive = s.search(q, 10, prune=False)
    assert got, family
    assert got == _hits(catalyst) == _hits(exhaustive)
    schema = finish.schema.simpleString()
    assert schema == f"struct<doc_id:bigint,score:{s._score_type}>"
    assert schema == catalyst.schema.simpleString()
    assert schema == exhaustive.schema.simpleString()
    assert_topk_equal(finish.collect(), _oracle_topk(small_oracle, q))


@pytest.mark.parametrize("family", sorted(QUERIES))
def test_driver_finish_at_bound_plus_minus_one(seg, monkeypatch, family):
    """A routed query finishes on the driver exactly when its one-shot
    fetch is at or under the bound, with the same hits either side."""
    q = QUERIES[family]
    n = _routed_fetch_size(seg, q)
    s = Searcher(seg)
    got = {}
    for delta in (-1, 0, 1):
        _set_bound(monkeypatch, n + delta)
        top = s.search(q, 10)
        assert _finished_on_driver(top) == (delta >= 0), (
            delta, _plan(top.df)
        )
        got[delta] = _hits(top)
    assert got[-1], family
    assert got[-1] == got[0] == got[1]


def _jobs(spark, run, group: str) -> tuple[int, object]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize(
    "q",
    [
        PhraseQuery(["timeout", "error"]),  # candidate splits, no match
        And("error", "zzqabsent"),
        TermQuery("zzqabsent"),
    ],
    ids=["no-match", "and-absent", "term-absent"],
)
def test_zero_hit_routed_query(spark, seg, q, exact):
    """No hits: an empty driver-side TopDocs of the result schema, whose
    collect() starts no Spark job."""
    s = Searcher(seg, exact_float32=exact)
    top = s.search(q, 10)
    assert _finished_on_driver(top), _plan(top.df)
    jobs, rows = _jobs(spark, top.collect, f"zero-hit-{exact}")
    assert rows == [] and jobs == 0
    assert top.schema == s.search(TermQuery("timeout"), 10).schema
    assert s.search(q, 10, prune=False).collect() == []


SEED_WALKS = {
    "or": (Or("error", "timeout"), lambda s: W.wand_or_search(
        s, ["error", "timeout"], 10, force_prune=True)),
    "and": (And("error", "timeout"), lambda s: W.wand_and_search(
        s, ["error", "timeout"], 10, force_prune=True)),
    "phrase": (QUERIES["phrase"], lambda s: W.wand_phrase_search(
        s, ["spill", "fill3"], 0, 10, force_prune=True)),
    "sloppy": (QUERIES["sloppy"], lambda s: W.wand_phrase_search(
        s, ["fill7", "fill3"], 2, 10, force_prune=True)),
}


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize("family", sorted(SEED_WALKS))
def test_seed_walk_bounded_seed_unbounded_survivors(
    seg, monkeypatch, family, exact
):
    """force_prune with a bound that admits the seed split alone: the
    seed finishes on the driver (θ from its numpy top-k), the survivors
    take the Catalyst route, whose k-row top-k merges with the seed's
    hits on the driver, and the merged top-k equals prune=False."""
    q, walk = SEED_WALKS[family]
    s = Searcher(seg, exact_float32=exact)
    want = _hits(s.search(q, 10, prune=False))
    fetches = []
    local = seg.decode_postings_local

    def spy(terms, want_positions=False, splits=None):
        out = local(terms, want_positions, splits)
        fetches.append((list(splits), out is not None))
        return out

    monkeypatch.setattr(seg, "decode_postings_local", spy)
    walk(s).collect()  # at the shipped bound: learn the seed split
    seed = fetches[0][0]
    assert len(seed) == 1 and len(fetches) > 1, fetches
    _set_bound(
        monkeypatch, _fetch_size(seg, sorted(_collect_terms(q)), seed)
    )
    fetches.clear()
    top = walk(s)
    assert len(fetches) > 1, fetches
    assert fetches[0] == (seed, True), fetches
    assert not any(bounded for _, bounded in fetches[1:]), fetches
    assert _finished_on_driver(top), _plan(top.df)
    assert _hits(top) == want


@pytest.mark.parametrize("slop", [0, 2])
@pytest.mark.parametrize(
    "terms", [["fill3", "fill7", "fill3"], ["spill", "fill3", "spill"]]
)
def test_repeated_term_phrase_matches_oracle(
    seg, small_oracle, monkeypatch, terms, slop
):
    """A phrase that repeats a term: the driver finish and the
    distributed walk both equal OracleIndex, whose sloppy walk runs the
    hasRpts path for repeated terms."""
    q = PhraseQuery(terms, slop=slop)
    want = _oracle_topk(small_oracle, q)
    s = Searcher(seg)
    driver = s.search(q, 10)
    assert _finished_on_driver(driver)
    assert_topk_equal(driver.collect(), want)
    _set_bound(monkeypatch, 0.0)
    distributed = s.search(q, 10, prune=False)
    assert "MapInPandas" in _plan(distributed.df)
    assert_topk_equal(distributed.collect(), want)
