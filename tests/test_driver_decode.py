"""Where a postings fetch decodes (SegmentIndex.decode_postings).

A fetch of at most ``wand.overhead_eq_postings()`` postings is decoded
on the driver and returned as a local frame; a larger one keeps the
distributed ``mapInPandas`` decode. A bounded sloppy phrase also runs
its position walk on the driver. The two sides must be
indistinguishable in results, and the bounded side must leave no
Python stage in the query plan."""

from __future__ import annotations

import pytest

from lucene_solr_spark.search import wand as W
from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.query import And, Or, PhraseQuery, TermQuery

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
        df = s.search(q, 10, prune=False)
        assert ("MapInPandas" in _plan(df)) == (delta < 0)
        got[delta] = [(r["doc_id"], r["score"]) for r in df.collect()]
    assert got[-1], family
    assert got[-1] == got[0] == got[1]


@pytest.mark.parametrize("prune", [True, False])
@pytest.mark.parametrize("family", sorted(QUERIES))
def test_bounded_search_plan_has_no_python_node(seg, family, prune):
    """At the shipped constants these fetches are under the bound, so
    the whole top-k plan runs in the JVM, sloppy phrases included.
    (Exact-float32 mode keeps its scoring UDF.)"""
    from lucene_solr_spark.search.executor import _collect_terms

    q = QUERIES[family]
    assert _fetch_size(seg, sorted(_collect_terms(q))) <= (
        W.overhead_eq_postings()
    )
    plan = _plan(Searcher(seg).search(q, 10, prune=prune))
    assert "LocalTableScan" in plan, plan
    assert not any(p in plan for p in PYTHON_NODES), plan
