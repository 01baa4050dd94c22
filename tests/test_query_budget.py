"""Plan-time budget of a warm routed query: how many py4j commands the
driver sends to build and run it, and how many Spark jobs it starts.

Every py4j command is a round trip over the Python/JVM bridge, and on a
small store they, not Spark work, were most of a query's wall time. A
warm query (its term metadata memoized by a first run) sends none.
Its fetch is within the driver-decode bound, so it runs no Spark job:
the postings of a segment store's bucket directories, or of a
near-real-time reader's live segments, are read from parquet on the
driver, and the query finishes there. Its hits come back as a
driver-side TopDocs, so search(q, k).collect() builds no DataFrame
(SparkSession.createDataFrame), never builds a one-partition local
frame (segments.local_frame), and its ``.df`` plan has no Python node
— in both precision modes."""

from __future__ import annotations

import shutil
import threading

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.query import And, Or, PhraseQuery, TermQuery
from tests.test_driver_decode import PYTHON_NODES, _plan

JOBS = 0
MAX_PY4J_COMMANDS = 0

QUERIES = {
    "term": TermQuery("timeout"),
    "and": And("error", "timeout"),
    "or": Or("error", "timeout", "zzqabsent"),
    "phrase": PhraseQuery(["spill", "fill3"]),
    "sloppy": PhraseQuery(["fill7", "fill3"], slop=2),
    "sloppy_rpt": PhraseQuery(["spill", "fill3", "spill"], slop=2),
}


@pytest.fixture(scope="module")
def store(small_index, tmp_path_factory):
    from lucene_solr_spark.index.segments import write_segments

    d = str(tmp_path_factory.mktemp("budget"))
    seg = write_segments(small_index, d, n_buckets=8, split_range=256)
    seg.attach_blooms(build=True)
    assert seg.stats.max_doc // seg.split_range + 1 >= (
        Searcher.MIN_ROUTE_SPLITS
    ), "store too small for the query to be routed"
    return seg


def _cost(spark, monkeypatch, run, group: str) -> tuple[int, int, list]:
    """(py4j commands, Spark jobs, result) of ``run()``. Only commands
    sent from this thread count: py4j's finalizer thread sends detach
    commands for proxies released by earlier queries at any time."""
    sc = spark.sparkContext
    client = sc._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = [0]

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            sent[0] += 1
        return send(*args, **kwargs)

    sc.setJobGroup(group, group)
    try:
        with monkeypatch.context() as m:
            m.setattr(client, "send_command", counting)
            rows = run()
            commands = sent[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return commands, jobs, rows


@pytest.fixture(scope="module")
def reader(spark, small_pdf, tmp_path_factory):
    """A warm near-real-time reader, as ingest-mixed serves it: two
    micro-batches, compacted."""
    from tests.test_reader_route import build_reader

    w = build_reader(
        spark, small_pdf, str(tmp_path_factory.mktemp("budget_nrt"))
    )
    assert w.compact()
    return w.reader()


@pytest.fixture(scope="module")
def tombstone_reader(spark, small_pdf, reader, tmp_path_factory):
    """The same reader with a pending delete."""
    from lucene_solr_spark.streaming.incremental import (
        IncrementalIndexWriter,
    )

    d = str(tmp_path_factory.mktemp("budget_nrt_tomb") / "index")
    shutil.copytree(reader.index_dir, d)
    w = IncrementalIndexWriter(spark, d)
    keys = pd.DataFrame({"conv_id": small_pdf["conv_id"].iloc[:1]})
    assert w.delete_by_keys(spark.createDataFrame(keys), "conv_id")
    return w.reader()


def _check_budget(spark, monkeypatch, index, family: str) -> None:
    from lucene_solr_spark.index import segments
    from lucene_solr_spark.search import wand as W

    q = QUERIES[family]
    monkeypatch.setattr(
        segments, "local_frame",
        lambda *a: pytest.fail("a bounded routed query built a local frame"),
    )
    routed = []
    for name in ("wand_or_search", "wand_and_search", "wand_phrase_search"):
        inner = getattr(W, name)
        monkeypatch.setattr(
            W, name,
            lambda *a, _inner=inner, **kw: routed.append(1) or _inner(*a, **kw),
        )

    def no_frame(*a, **kw):
        pytest.fail("a bounded routed query built a DataFrame")

    for exact in (False, True):
        searcher = Searcher(index, exact_float32=exact)
        warm = searcher.search(q, 10).collect()  # memoizes term metadata
        assert routed, f"{family} query was not routed"
        with monkeypatch.context() as m:
            m.setattr(SparkSession, "createDataFrame", no_frame)
            commands, jobs, rows = _cost(
                spark, monkeypatch, lambda: searcher.search(q, 10).collect(),
                f"budget-{type(index).__name__}-{family}-{exact}",
            )
        assert rows == warm and rows, family
        assert jobs == JOBS, f"{family}, exact={exact}: {jobs} Spark jobs"
        assert commands <= MAX_PY4J_COMMANDS, (
            f"{family}, exact={exact}: {commands} py4j commands"
        )
        plan = _plan(searcher.search(q, 10).df)
        assert not any(p in plan for p in PYTHON_NODES), plan


@pytest.mark.parametrize("family", sorted(QUERIES))
def test_warm_routed_query_budget(spark, store, monkeypatch, family):
    _check_budget(spark, monkeypatch, store, family)


@pytest.mark.parametrize("family", sorted(QUERIES))
def test_warm_reader_query_budget(spark, reader, monkeypatch, family):
    """The near-real-time reader routes as a one-split index: its warm
    query starts no Spark job either."""
    _check_budget(spark, monkeypatch, reader, family)


@pytest.mark.parametrize("family", sorted(QUERIES))
def test_warm_tombstone_reader_query_budget(
    spark, tombstone_reader, monkeypatch, family
):
    """Pending tombstones add no job: their ids are read once per
    reader, and a bounded fetch drops them on the driver."""
    _check_budget(spark, monkeypatch, tombstone_reader, family)


def test_new_combination_of_warm_terms_runs_no_job(spark, store, monkeypatch):
    """Term metadata and bucket ids are memoized per term, so a query
    whose terms are all warm starts no job even in a combination no
    earlier query had."""
    from lucene_solr_spark.index.segments import SegmentIndex

    seg = SegmentIndex.open(spark, store.index_dir).attach_blooms()
    searcher = Searcher(seg)
    for q in (TermQuery("timeout"), PhraseQuery(["spill", "fill3"])):
        assert searcher.search(q, 10).collect()
    q = Or("fill3", "timeout")
    _, jobs, rows = _cost(
        spark, monkeypatch, lambda: searcher.search(q, 10).collect(),
        "budget-new-combination",
    )
    assert rows and jobs == 0
