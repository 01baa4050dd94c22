"""Job budget of a segment-store build: a writer reads back nothing it
already knows.

Lucene's IndexWriter records a segment's doc count and field schema when
it flushes (SegmentInfo, FieldInfos) and never re-reads the segment to
learn either. Here every writer counts ``max_doc`` with an Observation
on its doc-store write, and every engine-written table is read with a
schema the engine has (SEGMENT_SCHEMA, TERMS_STATS_SCHEMA, BLOOM_SCHEMA,
the doc store's own footer schema). So a build starts no job from a
``spark.read.parquet`` schema inference, and opening a built store and
its blooms starts no job at all.

The build under test is ``query-pruned``-shaped: doc ids assigned by the
build, a narrow ``split_range`` (many splits), blooms built and
attached. A ``query-pruned`` build also reads its corpus with
``spark.read.parquet``, one more job than the engine's own
(BUILD_JOBS)."""

from __future__ import annotations

import pytest

from lucene_solr_spark.index.bloom import build_blooms
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    build_segment_store,
    write_segments,
)

# docIDs at most 4 (the sample collect takes 1 or 2 jobs as its limit
# scales up, the bucket-count agg 2 with its shuffle), docs write 2, pack
# shuffle + write 2, terms_stats 2, blooms 2
BUILD_JOBS = 12
SPLIT_RANGE = 256


def _jobs(spark, group: str, run) -> tuple[list[int], object]:
    """(ids of the Spark jobs ``run()`` started, its result)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group)), out


def _reader_jobs(spark, job_ids: list[int]) -> list[int]:
    """The jobs among ``job_ids`` that a DataFrameReader call started: a
    parquet footer (schema) inference. Their call site, the first line
    of each stage's details, is the reader method."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    return [
        j
        for j in job_ids
        if any(
            "DataFrameReader." in store.lastStageAttempt(s).details()
            .split("\n", 1)[0]
            for s in sc.statusTracker().getJobInfo(j).stageIds
        )
    ]


@pytest.fixture(scope="module")
def built(spark, small_pdf, tmp_path_factory):
    """A query-pruned-shaped build and the jobs it ran."""
    d = str(tmp_path_factory.mktemp("build_budget"))
    docs = spark.createDataFrame(small_pdf.drop(columns=["doc_id"]))

    def build():
        seg = build_segment_store(spark, docs, d, split_range=SPLIT_RANGE)
        build_blooms(seg)
        return seg.attach_blooms()

    jobs, seg = _jobs(spark, "build-budget", build)
    assert seg.n_splits >= 13, "the store should have many splits"
    return seg, jobs


def test_build_runs_at_most_build_jobs(spark, built):
    seg, jobs = built
    assert len(jobs) <= BUILD_JOBS, f"{len(jobs)} Spark jobs: {jobs}"
    assert seg.blooms._driver_rows is not None


def test_build_infers_no_schema(spark, built):
    _, jobs = built
    assert _reader_jobs(spark, jobs) == []


def test_detector_sees_an_inference_job(spark, built):
    """The detector is live: reading the doc store without a schema
    starts an inference job, and it is the one reported."""
    seg, _ = built
    jobs, _ = _jobs(
        spark, "build-budget-infer",
        lambda: spark.read.parquet(f"{seg.index_dir}/docs"),
    )
    assert jobs and _reader_jobs(spark, jobs) == jobs


def test_reopen_with_blooms_runs_no_job(spark, built):
    seg, _ = built
    jobs, fresh = _jobs(
        spark, "build-budget-reopen",
        lambda: SegmentIndex.open(spark, seg.index_dir).attach_blooms(),
    )
    assert jobs == []
    assert fresh.docs.schema == spark.read.parquet(
        f"{seg.index_dir}/docs"
    ).schema
    assert fresh.blooms._driver_rows is not None
    assert sorted(
        (s, n, None if w is None else w.tolist())
        for s, n, w in fresh.blooms._driver_rows
    ) == sorted(
        (r["split"], r["bloom_size"],
         None if r["words"] is None
         else [w & (2**64 - 1) for w in r["words"]])
        for r in fresh.blooms.blooms.collect()
    )


@pytest.fixture(scope="module")
def stores(spark, tiny_pdf, tiny_index, tmp_path_factory):
    """One store from every writer, by name."""
    from lucene_solr_spark.index.merger import merge_stores
    from lucene_solr_spark.index.splitter import pk_split
    from tests.test_driver_read import _resumed

    root = tmp_path_factory.mktemp("max_doc")
    out = {
        "build_segment_store": build_segment_store(
            spark, spark.createDataFrame(tiny_pdf.drop(columns=["doc_id"])),
            str(root / "bss"), n_buckets=4, split_range=64,
        ),
        "write_segments": write_segments(
            tiny_index, str(root / "ws"), n_buckets=4, split_range=64
        ),
        "resumed": _resumed(spark, tiny_index, str(root / "resumed")),
    }
    lo, hi = pk_split(
        spark, str(root / "ws"), str(root / "lo"), str(root / "hi"),
        len(tiny_pdf) // 3,
    )
    out["pk_split_lo"], out["pk_split_hi"] = lo, hi
    out["merge_stores"] = merge_stores(
        spark, [str(root / "lo"), str(root / "hi")], str(root / "merged"),
        rebase=False,
    )
    return out


@pytest.mark.parametrize(
    "name",
    ["build_segment_store", "write_segments", "resumed", "pk_split_lo",
     "pk_split_hi", "merge_stores"],
)
def test_max_doc_is_the_doc_store_count(spark, tiny_pdf, stores, name):
    seg = stores[name]
    n = spark.read.parquet(f"{seg.index_dir}/docs").count()
    assert seg.stats.max_doc == seg.manifest["max_doc"] == n
    reopened = SegmentIndex.open(spark, seg.index_dir)
    assert reopened.stats.max_doc == n
    if not name.startswith("pk_split"):
        assert n == len(tiny_pdf)


def test_incremental_writer_reads_nothing_back(
    spark, tiny_pdf, tmp_path
):
    """process_batch and compact count docs and Σ tf with Observations
    on their writes: no job of process_batch is a DataFrameReader's,
    and after compaction the manifest's counts equal what the merged
    segment holds."""
    import pyspark.sql.functions as F

    from lucene_solr_spark.streaming.incremental import (
        IncrementalIndexWriter,
    )

    w = IncrementalIndexWriter(spark, str(tmp_path / "nrt"))
    half = len(tiny_pdf) // 2
    batches = [tiny_pdf.iloc[:half], tiny_pdf.iloc[half:]]
    jobs = []
    for i, b in enumerate(batches):
        got, _ = _jobs(
            spark, f"build-budget-batch{i}",
            lambda b=b, i=i: w.process_batch(
                spark.createDataFrame(b.drop(columns=["doc_id"])), i
            ),
        )
        jobs += got
    got, merged = _jobs(spark, "build-budget-compact", w.compact)
    assert merged
    assert _reader_jobs(spark, jobs) == []
    r = w.reader()
    assert r.stats.max_doc == r.docs.count() == len(tiny_pdf)
    sttf = r.postings.agg(F.sum("tf")).collect()[0][0]
    assert r.stats.sum_total_term_freq == sttf
