"""The near-real-time reader routes like a segment store.

StreamingIndexReader speaks the split read protocol (SplitIndex) as a
one-split index over its flat postings, so Searcher sends its term,
AND, OR and phrase queries through the split walk (wand.py), and a
bounded fetch finishes on the driver. The routed top-k must equal the
exhaustive plan (``prune=False``), the flat InvertedIndex over the same
live postings (the reader's earlier query path) and OracleIndex — on a
compacted reader, an uncompacted two-segment reader and a reader with
pending tombstones, whose deleted docs are gone from every hit list
while their postings still count in df until compaction.

Small segment stores route too: the split-count floor
(Searcher.MIN_ROUTE_SPLITS) gates only the seed-then-prune walk."""

from __future__ import annotations

import shutil

import pytest

from lucene_solr_spark.index.builder import InvertedIndex
from lucene_solr_spark.index.norms import NORM_TABLE
from lucene_solr_spark.search import wand as W
from lucene_solr_spark.search.executor import MULTITERM_REWRITE_CAP, Searcher
from lucene_solr_spark.search.query import (
    And,
    Or,
    PhraseQuery,
    PrefixQuery,
    TermQuery,
)
from lucene_solr_spark.streaming.incremental import IncrementalIndexWriter
from tests.conftest import assert_topk_equal
from tests.test_driver_decode import (
    QUERIES as DECODE_QUERIES,
    _finished_on_driver,
    _hits,
    _jobs,
    _oracle_topk,
    _plan,
    _set_bound,
)

QUERIES = {
    **DECODE_QUERIES,
    "or_dup": Or("error", "error", "timeout"),
}


def build_reader(spark, pdf, index_dir: str) -> IncrementalIndexWriter:
    """Two micro-batches of ``pdf`` (rows in doc_id order, so the
    writer's doc ids equal ``pdf.doc_id``), uncompacted."""
    w = IncrementalIndexWriter(spark, index_dir)
    docs = pdf.drop(columns=["doc_id"])
    half = len(docs) // 2
    for b, part in enumerate((docs.iloc[:half], docs.iloc[half:])):
        w.process_batch(spark.createDataFrame(part), b)
    return w


@pytest.fixture(scope="module")
def readers(spark, small_pdf, small_oracle, tmp_path_factory):
    """{name: (reader, doc ids deleted)}: compacted, two segments, and
    two segments with pending tombstones. The tombstoned conversations
    hold the top hit of every family with more than one hit."""
    import pandas as pd

    root = tmp_path_factory.mktemp("nrt")
    base = build_reader(spark, small_pdf, str(root / "compacted"))
    shutil.copytree(root / "compacted", root / "two_segments")
    shutil.copytree(root / "compacted", root / "tombstones")
    assert base.compact()

    hits = [_oracle_topk(small_oracle, q, 2) for q in QUERIES.values()]
    top = {h[0][0] for h in hits if len(h) > 1}
    convs = small_pdf.loc[small_pdf["doc_id"].isin(top), "conv_id"].unique()
    tomb = IncrementalIndexWriter(spark, str(root / "tombstones"))
    keys = spark.createDataFrame(pd.DataFrame({"conv_id": convs}))
    deleted = set(
        small_pdf.loc[small_pdf["conv_id"].isin(convs), "doc_id"].tolist()
    )
    assert tomb.delete_by_keys(keys, "conv_id") == len(deleted)
    two = IncrementalIndexWriter(spark, str(root / "two_segments"))
    return {
        "compacted": (base.reader(), set()),
        "two_segments": (two.reader(), set()),
        "tombstones": (tomb.reader(), deleted),
    }


def _flat(reader) -> InvertedIndex:
    """The reader's live postings as a flat InvertedIndex: the query
    path the reader had before it routed."""
    return InvertedIndex(
        reader.spark, reader.docs, reader.postings, reader.terms_stats,
        reader.stats,
    )


def _oracle_live_topk(oracle, q, deleted, k=10):
    """OracleIndex top-k with ``deleted`` docs dropped from the hits
    but kept in its statistics (the pre-merge semantics)."""
    scores = dict(_oracle_topk(oracle, q, k=len(oracle.norm_byte)))
    return [(d, s) for d, s in scores.items() if d not in deleted][:k]


def _routed(monkeypatch) -> list:
    calls = []
    for name in ("wand_or_search", "wand_and_search", "wand_phrase_search"):
        inner = getattr(W, name)
        monkeypatch.setattr(
            W, name,
            lambda *a, _inner=inner, **kw: calls.append(1) or _inner(*a, **kw),
        )
    return calls


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize("family", sorted(QUERIES))
@pytest.mark.parametrize("name", ["compacted", "two_segments", "tombstones"])
def test_reader_route_matches_every_reference(
    readers, small_oracle, monkeypatch, name, family, exact
):
    reader, deleted = readers[name]
    q = QUERIES[family]
    routed = _routed(monkeypatch)
    s = Searcher(reader, exact_float32=exact)
    finish = s.search(q, 10)
    assert routed, f"{family} was not routed"
    assert _finished_on_driver(finish), _plan(finish.df)
    got = _hits(finish)
    exhaustive = s.search(q, 10, prune=False)
    flat = Searcher(_flat(reader), exact_float32=exact).search(q, 10)
    assert got, family
    assert got == _hits(exhaustive) == _hits(flat)
    schema = finish.schema.simpleString()
    assert schema == f"struct<doc_id:bigint,score:{s._score_type}>"
    assert schema == exhaustive.schema.simpleString()
    assert schema == flat.schema.simpleString()
    assert not deleted & {d for d, _ in got}
    assert_topk_equal(
        finish.collect(), _oracle_live_topk(small_oracle, q, deleted)
    )


def _terms(q) -> list[str]:
    if isinstance(q, TermQuery):
        return [q.term]
    if isinstance(q, PhraseQuery):
        return list(q.terms)
    return [c.query.term for c in q.clauses]


def test_tombstones_leave_hits_but_not_statistics(readers, small_oracle):
    """Deleted docs would rank without their tombstones, and df, ttf and
    maxDoc still count them until compaction."""
    reader, deleted = readers["tombstones"]
    ranked = {
        d for q in QUERIES.values()
        for d, _ in _oracle_topk(small_oracle, q, 10)
    }
    assert deleted & ranked
    terms = sorted({t for q in QUERIES.values() for t in _terms(q)})
    stats = reader.term_stats(terms)
    whole, _ = readers["two_segments"]
    assert stats == whole.term_stats(terms)
    for t, (df, _) in stats.items():
        assert df == small_oracle.df(t)
    assert reader.stats == whole.stats
    compacted, _ = readers["compacted"]
    assert reader.stats.max_doc == compacted.stats.max_doc


def test_split_meta_is_one_split_of_raw_postings(readers):
    """One split-0 row per indexed term, from the pre-tombstone
    postings: nd and sum_tf are df and ttf, max_tf the largest tf and
    min_nb the norm byte of the shortest doc."""
    import pyspark.sql.functions as F

    reader, _ = readers["tombstones"]
    terms = ["error", "timeout", "fill3", "zzqabsent"]
    meta = reader.split_meta(terms).set_index("term")
    assert sorted(meta.index) == ["error", "fill3", "timeout"]
    assert (meta["split"] == 0).all()
    raw = reader._raw_postings.where(F.col("term").isin(terms)).toPandas()
    assert len(raw) > reader.postings.where(
        F.col("term").isin(terms)
    ).count()
    for t, rows in raw.groupby("term"):
        assert meta.loc[t, "nd"] == len(rows)
        assert meta.loc[t, "sum_tf"] == rows["tf"].sum()
        assert meta.loc[t, "max_tf"] == rows["tf"].max()
        nb = rows["norm_byte"].to_numpy()
        assert NORM_TABLE[meta.loc[t, "min_nb"]] == NORM_TABLE[nb].min()


@pytest.mark.parametrize("name", ["compacted", "tombstones"])
@pytest.mark.parametrize("family", ["term", "and", "or", "phrase", "sloppy"])
def test_reader_fetch_at_bound_plus_minus_one(
    readers, monkeypatch, name, family
):
    """A reader query finishes on the driver exactly when its fetch
    (Σ nd of its terms' one split) is at or under the bound; above it
    the fetch is a lazy Catalyst filter. Same hits either side."""
    reader, _ = readers[name]
    q = QUERIES[family]
    n = int(reader.split_meta(sorted(set(_terms(q))))["nd"].sum())
    s = Searcher(reader)
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


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize(
    "q",
    [
        PhraseQuery(["timeout", "error"]),  # both terms, no match
        And("error", "zzqabsent"),
        TermQuery("zzqabsent"),
    ],
    ids=["no-match", "and-absent", "term-absent"],
)
def test_zero_hit_reader_query(spark, readers, q, exact):
    reader, _ = readers["compacted"]
    s = Searcher(reader, exact_float32=exact)
    top = s.search(q, 10)
    assert _finished_on_driver(top), _plan(top.df)
    jobs, rows = _jobs(spark, top.collect, f"reader-zero-hit-{exact}")
    assert rows == [] and jobs == 0
    assert top.schema == s.search(TermQuery("timeout"), 10).schema
    assert s.search(q, 10, prune=False).collect() == []


# ---- multi-term expansion on the reader --------------------------------


@pytest.fixture(scope="module")
def prefix_reader(spark, tmp_path_factory):
    """A reader and the flat index of the same docs, with more than
    MULTITERM_REWRITE_CAP terms under the prefix ``zq``."""
    from lucene_solr_spark.index.builder import build_index

    n = MULTITERM_REWRITE_CAP + 76
    docs = spark.createDataFrame(
        [(i, f"alpha zq{i} beta{i % 7}") for i in range(n)],
        "uid long, text string",
    )
    w = IncrementalIndexWriter(
        spark, str(tmp_path_factory.mktemp("nrt_prefix")), ("uid",)
    )
    w.process_batch(docs, 0)
    flat = build_index(spark, docs.withColumnRenamed("uid", "doc_id"))
    return w.reader(), flat


@pytest.mark.parametrize(
    "prefix, broad", [("zq", True), ("zq10", False)], ids=["broad", "narrow"]
)
def test_reader_prefix_query_matches_flat_index(
    prefix_reader, monkeypatch, prefix, broad
):
    """Past the rewrite cap the reader semi-joins the matched terms
    against its flat postings (postings_for_matched); under it the
    expansion fetches by term. Both equal the flat InvertedIndex."""
    reader, flat = prefix_reader
    calls = []
    inner = reader.postings_for_matched
    monkeypatch.setattr(
        reader, "postings_for_matched",
        lambda *a, **kw: calls.append(1) or inner(*a, **kw),
    )
    q = PrefixQuery(prefix)
    n_terms = reader.terms_stats.where(
        reader.terms_stats["term"].startswith(prefix)
    ).count()
    assert (n_terms > MULTITERM_REWRITE_CAP) == broad
    got = sorted(
        (r["doc_id"], r["score"])
        for r in Searcher(reader).score(q).collect()
    )
    want = sorted(
        (r["doc_id"], r["score"]) for r in Searcher(flat).score(q).collect()
    )
    assert got == want and len(got) == n_terms
    assert bool(calls) == broad


# ---- small segment stores route too ------------------------------------


@pytest.fixture(scope="module")
def small_stores(small_index, tmp_path_factory):
    from lucene_solr_spark.index.segments import write_segments

    out = {}
    for name, split_range in (("one_split", None), ("four_splits", 1300)):
        d = str(tmp_path_factory.mktemp(name))
        kw = {} if split_range is None else {"split_range": split_range}
        out[name] = write_segments(small_index, d, n_buckets=8, **kw)
    return out


@pytest.mark.parametrize("exact", [False, True])
@pytest.mark.parametrize("family", sorted(QUERIES))
@pytest.mark.parametrize("name", ["one_split", "four_splits"])
def test_small_store_routes(small_stores, monkeypatch, name, family, exact):
    seg = small_stores[name]
    assert seg.n_splits == {"one_split": 1, "four_splits": 4}[name]
    assert seg.n_splits < Searcher.MIN_ROUTE_SPLITS
    q = QUERIES[family]
    routed = _routed(monkeypatch)
    s = Searcher(seg, exact_float32=exact)
    got = s.search(q, 10)
    assert routed, f"{family} was not routed"
    assert _hits(got) == _hits(s.search(q, 10, prune=False))
    assert _hits(got), family
    assert got.schema.simpleString() == (
        s.search(q, 10, prune=False).schema.simpleString()
    )


def test_small_store_never_seed_walks(small_stores, monkeypatch):
    """Below MIN_ROUTE_SPLITS the walk stays off even when the cost
    model predicts a win; force_prune still runs it."""
    seg = small_stores["four_splits"]
    s = Searcher(seg)
    monkeypatch.setattr(W, "seed_walk_predicted_win", lambda cands: True)
    stats: dict = {}
    W.wand_and_search(s, ["error", "timeout"], 10, stats_out=stats)
    assert stats["splits_decoded"] == stats["splits_all"] > 1
    forced: dict = {}
    want = _hits(s.search(And("error", "timeout"), 10, prune=False))
    got = W.wand_and_search(
        s, ["error", "timeout"], 10, stats_out=forced, force_prune=True
    )
    assert _hits(got) == want
    assert forced["splits_all"] == stats["splits_all"]


def test_reader_is_a_split_index(readers):
    from lucene_solr_spark.index.segments import SegmentIndex, SplitIndex

    reader, _ = readers["compacted"]
    assert isinstance(reader, SplitIndex)
    assert not isinstance(reader, SegmentIndex)
    assert reader.n_splits == 1 and reader.keep_positions
    # the shared protocol is inherited, not copied
    for name in ("split_meta", "term_stats", "decode_postings",
                 "decode_postings_local", "postings_for_terms",
                 "postings_for_terms_local"):
        assert getattr(type(reader), name) is getattr(SplitIndex, name)
        assert getattr(SegmentIndex, name) is getattr(SplitIndex, name)
