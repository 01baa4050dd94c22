"""Searcher.search and search_after return a TopDocs
(IndexSearcher.search's TopDocs{ScoreDoc[]}).

A routed query finished on the driver holds its hits as a pyarrow
table: its rows, Arrow table, pandas frame and length never touch the
JVM, and its ``.df`` is a LocalTableScan built on first use. Every other
path holds the lazy Catalyst top-k plan, pulled once. Both sources must
give the same rows, schema and score bits as the exhaustive plan
(``prune=False``) and OracleIndex, in both precision modes."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from lucene_solr_spark.search.executor import Searcher, TopDocs
from lucene_solr_spark.search.query import And, Or, TermQuery
from tests.conftest import assert_topk_equal
from tests.test_driver_decode import (
    QUERIES,
    _finished_on_driver,
    _jobs,
    _oracle_topk,
    _plan,
    _set_bound,
)


@pytest.fixture(scope="module")
def seg(small_index, tmp_path_factory):
    from lucene_solr_spark.index.segments import write_segments

    d = str(tmp_path_factory.mktemp("topdocs"))
    return write_segments(small_index, d, n_buckets=8, split_range=256)


def _score_bits(top: TopDocs) -> np.ndarray:
    return top.to_arrow()["score"].to_numpy().view(
        np.uint32 if top.schema["score"].dataType.typeName() == "float"
        else np.uint64
    )


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize(
    "q",
    [TermQuery("zzqabsent"), And("error", "zzqabsent")],
    ids=["term-absent", "must-df0"],
)
def test_empty_result(spark, seg, q, exact):
    s = Searcher(seg, exact_float32=exact)
    top = s.search(q, 10)
    assert isinstance(top, TopDocs) and _finished_on_driver(top)
    assert top.collect() == [] and len(top) == 0
    table = top.to_arrow()
    assert table.num_rows == 0
    assert table.schema.names == ["doc_id", "score"]
    assert list(top.toPandas().columns) == ["doc_id", "score"]
    assert top.schema == s.search(q, 10, prune=False).schema
    jobs, rows = _jobs(spark, top.df.collect, f"topdocs-empty-{exact}")
    assert rows == [] and jobs == 0


@pytest.mark.parametrize("exact", [False, True])
def test_k_above_hit_count(seg, small_oracle, exact):
    """k larger than the number of matching docs: every hit, once."""
    q = And("error", "timeout")
    s = Searcher(seg, exact_float32=exact)
    n_hits = len(s.search(q, 100_000, prune=False))
    assert 0 < n_hits < 5_000
    k = n_hits + 50
    top = s.search(q, k)
    assert len(top) == n_hits
    assert top.collect() == s.search(q, k, prune=False).collect()
    assert_topk_equal(top.collect(), _oracle_topk(small_oracle, q, k))


@pytest.mark.parametrize("family", sorted(QUERIES))
def test_exact_scores_are_float32_bit_for_bit(seg, monkeypatch, family):
    """Exact mode: the driver hits are float32, and their bits equal
    those of the above-bound Catalyst route and of prune=False."""
    q = QUERIES[family]
    s = Searcher(seg, exact_float32=True)
    top = s.search(q, 10)
    assert _finished_on_driver(top)
    assert top.to_arrow()["score"].type == pa.float32()
    assert top.toPandas()["score"].dtype == np.float32
    for r in top.collect():
        assert float(np.float32(r["score"])) == r["score"]
    bits = _score_bits(top)
    exhaustive = s.search(q, 10, prune=False)
    _set_bound(monkeypatch, 0.0)
    catalyst = s.search(q, 10)
    assert not _finished_on_driver(catalyst)
    assert np.array_equal(bits, _score_bits(exhaustive))
    assert np.array_equal(bits, _score_bits(catalyst))


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize("family", sorted(QUERIES))
def test_driver_and_catalyst_topdocs_agree(
    spark, seg, small_oracle, monkeypatch, family, exact
):
    """Rows, schema, Arrow table and pandas frame of the driver finish
    equal the above-bound Catalyst route's, prune=False's and
    OracleIndex's top-k; the driver result's ``.df`` starts no job."""
    q = QUERIES[family]
    s = Searcher(seg, exact_float32=exact)
    top = s.search(q, 10)
    assert _finished_on_driver(top)
    exhaustive = s.search(q, 10, prune=False)
    _set_bound(monkeypatch, 0.0)
    catalyst = s.search(q, 10)
    rows = top.collect()
    assert rows and rows == catalyst.collect() == exhaustive.collect()
    assert_topk_equal(rows, _oracle_topk(small_oracle, q))
    assert top.schema == catalyst.schema == exhaustive.schema
    assert top.to_arrow().equals(exhaustive.to_arrow())
    assert top.toPandas().equals(exhaustive.toPandas())
    assert len(top) == len(exhaustive) == len(rows)
    jobs, df_rows = _jobs(spark, top.df.collect, f"topdocs-df-{exact}")
    assert df_rows == rows and jobs == 0
    assert (
        top.df.schema.simpleString()
        == exhaustive.df.schema.simpleString()
        == f"struct<doc_id:bigint,score:{s._score_type}>"
    )


def test_catalyst_plan_is_pulled_once(spark, seg):
    """A Catalyst TopDocs runs its top-k plan the first time rows are
    asked for; later reads reuse the pulled table."""
    s = Searcher(seg)
    top = s.search(Or("error", "timeout"), 10, prune=False)
    jobs, rows = _jobs(spark, top.collect, "topdocs-pull-first")
    assert rows and jobs >= 1
    for i, read in enumerate((top.collect, top.to_arrow, top.toPandas)):
        jobs, _ = _jobs(spark, read, f"topdocs-pull-again-{i}")
        assert jobs == 0
    assert "TakeOrderedAndProject" in _plan(top.df)


@pytest.mark.parametrize("exact", [False, True])
def test_search_after_page_two(seg, exact):
    """searchAfter from the last hit of page 1 gives rows 11-20 of the
    top 20, as a TopDocs."""
    q = Or("error", "timeout")
    s = Searcher(seg, exact_float32=exact)
    top20 = s.search(q, 20).collect()
    assert len(top20) == 20
    last = s.search(q, 10).collect()[-1]
    page2 = s.search_after(q, float(last["score"]), int(last["doc_id"]), 10)
    assert isinstance(page2, TopDocs)
    assert page2.schema == s.search(q, 10).schema
    assert page2.collect() == top20[10:20]
