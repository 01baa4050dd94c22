"""Physical-plan shape assertions — the properties that matter at
100 TB must be visible in `.explain`, not just fast on 60k rows:

  - the segment store's block scan is PARTITION-pruned on bucket and
    row-group-pruned on term (PushedFilters) before any decode;
  - doc-store predicates (fq / numeric range) reach the parquet scan
    as PushedFilters with pruned ReadSchema;
  - top-k compiles to TakeOrderedAndProject (bounded heap + single
    merge), never a global sort.
"""

from __future__ import annotations

import pytest

from lucene_solr_spark.search.executor import Searcher


@pytest.fixture(scope="module")
def seg(small_index, tmp_path_factory):
    from lucene_solr_spark.index.segments import write_segments

    d = str(tmp_path_factory.mktemp("planseg"))
    return write_segments(small_index, d, n_buckets=8, split_range=256)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_block_scan_is_bucket_and_term_pruned(seg, monkeypatch):
    pruned = seg.block_scan(["error"])
    plan = _plan(pruned)
    # partition pruning on the bucket directory column
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    # term equality/IN reaches the parquet row-group stats
    pf = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pf and "term" in pf[0], plan
    # and the bounded pull on the driver prunes the same way: it opens
    # only the query term's bucket directory (opening the view read the
    # doc store's footer, for its schema)
    from lucene_solr_spark.index.segments import DriverParquet, SegmentIndex

    opened = []
    footers = DriverParquet.footers

    def spy(self, sub):
        opened.append(sub)
        return footers(self, sub)

    monkeypatch.setattr(DriverParquet, "footers", spy)
    fresh = SegmentIndex.open(seg.spark, seg.index_dir)
    assert fresh.postings_for_terms_local(["error"]) is not None
    assert len(fresh.buckets_of(["error"])) == 1
    assert opened == ["docs"] + [
        f"postings/bucket={b}" for b in fresh.buckets_of(["error"])
    ]


def test_doc_store_predicate_pushdown(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import pyspark.sql.functions as F

    q = docs.where(F.col("n_chars").between(200, 400)).select(
        "doc_id", "n_chars"
    )
    plan = _plan(q)
    pf = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pf and "n_chars" in pf[0], plan
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    # column pruning: only the 2 projected columns are read
    assert rs and "text" not in rs[0], plan


def test_topk_is_take_ordered_not_global_sort(seg):
    s = Searcher(seg)
    from lucene_solr_spark.search.query import Or

    top = s.search(Or("error", "timeout"), 10, prune=False)
    plan = _plan(top.df)
    assert "TakeOrderedAndProject" in plan, plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval-set n-gram side must broadcast (benchmarks are tiny vs
    a 100 TB corpus) — no shuffle of the corpus n-grams for the join."""
    import pyspark.sql.functions as F

    from lucene_solr_spark.datapipe.training import decontaminate

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    ev = docs.where(F.col("doc_id") % 23 == 0)
    corpus = docs.where(F.col("doc_id") % 23 != 0)
    plan = _plan(decontaminate(corpus, ev, n=4))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_stratified_sample_is_map_only(spark):
    """Deterministic sampling is a scan-level filter: zero Exchange."""
    from lucene_solr_spark.datapipe.training import stratified_sample

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    plan = _plan(stratified_sample(docs, {"en": 0.5}, default_rate=0.1))
    assert "Exchange" not in plan, plan


def test_chunk_dedup_shuffles_on_hash_only(spark):
    """Chunk dedup shuffles on the chunk hash only: exactly the two
    exchanges of Catalyst's count(DISTINCT doc_id) rewrite — partial
    agg on (hash, doc_id) then final on hash — never a join or a
    corpus-keyed repartition."""
    from lucene_solr_spark.datapipe.training import chunk_dedup

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    import re

    plan = _plan(chunk_dedup(docs, chunk_tokens=10))
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange == 2, plan
    assert "Join" not in plan, plan


def test_surround_distance_joins_on_doc_id_no_cartesian(small_index):
    """The surround distance join must be a doc_id-keyed equi-join
    (SortMergeJoin/HashJoin), never a cartesian product — the property
    that keeps the span algebra viable at 10^12 docs."""
    from lucene_solr_spark.search.surround import surround_doc_ids

    s = Searcher(small_index)
    plan = _plan(surround_doc_ids(s, "(error or merge) 3w shard"))
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Join" in plan, plan


def test_join_fq_broadcasts_from_values(small_index):
    """{!join} admits docs via a BROADCAST semi-join of the from-value
    set (the JoinUtil term-enumeration shape) — no shuffle of the big
    doc store on the join key."""
    import pyspark.sql.functions as F

    from lucene_solr_spark.search.handler import _fq_doc_ids

    s = Searcher(small_index)
    ids = _fq_doc_ids(s, "{!join from=conv_id to=conv_id}error")
    plan = _plan(ids)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_group_query_single_window_job(spark):
    """grouped_by_queries fuses N group queries into ONE window plan —
    no per-group driver loop (one Window over a tagged union).
    Synthetic lineage-free frames so the only Window is the group
    page's own."""
    from lucene_solr_spark.search.grouping import grouped_by_queries

    scored = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(100)],
        "doc_id long, score double",
    )
    g1 = spark.createDataFrame([(i,) for i in range(0, 60)], "doc_id long")
    g2 = spark.createDataFrame([(i,) for i in range(40, 100)], "doc_id long")
    out = grouped_by_queries(scored, {"a": g1, "b": g2}, per_group=2)
    plan = _plan(out)
    assert plan.count("+- Window ") == 1, plan
    assert "Union" in plan, plan
    assert "Cartesian" not in plan


def test_duplicate_filter_is_one_hash_agg(spark):
    """DuplicateFilter compiles to a hash aggregate (min per value) —
    no window, no sort (lineage-free input frame)."""
    from lucene_solr_spark.search.filters import duplicate_filter

    docs = spark.createDataFrame(
        [(i, f"v{i % 5}") for i in range(50)], "doc_id long, role string"
    )
    out = duplicate_filter(docs, "role", keep_mode="first")
    plan = _plan(out)
    assert "HashAggregate" in plan, plan
    assert "Window" not in plan, plan
