"""A bounded postings fetch is read from parquet on the driver
(DriverParquet, ``_pull_postings``) instead of running a Spark scan.

The driver read must return exactly the rows the lazy scan
(``_scan_postings``) decodes — same ids, tfs, positions, norm bytes and
dtypes — on every store writer and every near-real-time reader shape.
It is bounded twice: by postings (``wand.overhead_eq_postings()``, on
split_meta) and by the compressed bytes of the row groups it would
read (``wand.overhead_eq_bytes()``, on the cached footers); above
either, the fetch is the lazy scan. Footers are read once per view."""

from __future__ import annotations

import json
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.merger import merge_stores
from lucene_solr_spark.index.segments import (
    DriverParquet,
    SegmentIndex,
    build_segment_store,
    read_manifest,
    write_segments,
)
from lucene_solr_spark.search import wand as W
from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.query import Or, TermQuery
from lucene_solr_spark.streaming.incremental import IncrementalIndexWriter
from tests.test_driver_decode import _plan, _set_bound
from tests.test_reader_route import build_reader

TERMS = ["error", "timeout", "spill", "fill3", "zzqabsent"]
STORES = ["build_segment_store", "write_segments", "merge_rebase",
          "merge_disjoint", "resumed"]
READERS = ["compacted", "two_segments", "tombstones"]


def _docs(spark, pdf):
    return spark.createDataFrame(pdf[["doc_id", "text"]])


def _resumed(spark, tiny_index, d: str) -> SegmentIndex:
    """A store whose build was killed after 2 of 4 buckets (their data
    left behind, uncommitted), resumed."""
    write_segments(tiny_index, d, n_buckets=4, split_range=64)
    m = read_manifest(d)
    for b in range(2, 4):
        del m["buckets"][str(b)]
    with open(f"{d}/segments_{m['generation']}.json", "w") as f:
        json.dump(m, f)
    return write_segments(tiny_index, d, n_buckets=4, split_range=64)


@pytest.fixture(scope="module")
def indexes(spark, tiny_pdf, tiny_index, tmp_path_factory):
    root = tmp_path_factory.mktemp("driver_read")
    out = {
        "build_segment_store": build_segment_store(
            spark, spark.createDataFrame(tiny_pdf.drop(columns=["doc_id"])),
            str(root / "bss"), n_buckets=4, split_range=64,
            order_cols=["conv_id", "turn_idx"],
        ),
        "write_segments": write_segments(
            tiny_index, str(root / "ws"), n_buckets=4, split_range=64
        ),
        "resumed": _resumed(spark, tiny_index, str(root / "resumed")),
    }
    half = len(tiny_pdf) // 2
    a, b = tiny_pdf.iloc[:half], tiny_pdf.iloc[half:]
    for name, rebase in (("merge_rebase", True), ("merge_disjoint", False)):
        # rebase=False needs disjoint id spaces: b keeps its own ids
        b_ids = b if not rebase else b.assign(doc_id=range(len(b)))
        parts = [
            write_segments(
                build_index(spark, _docs(spark, p)), str(root / name / s),
                n_buckets=4, split_range=64,
            ).index_dir
            for s, p in (("a", a), ("b", b_ids))
        ]
        out[name] = merge_stores(
            spark, parts, str(root / name / "m"), rebase=rebase
        )

    base = build_reader(spark, tiny_pdf, str(root / "compacted"))
    shutil.copytree(root / "compacted", root / "two_segments")
    shutil.copytree(root / "compacted", root / "tombstones")
    assert base.compact()
    tomb = IncrementalIndexWriter(spark, str(root / "tombstones"))
    convs = tiny_pdf["conv_id"].drop_duplicates().iloc[::3]
    keys = spark.createDataFrame(pd.DataFrame({"conv_id": convs}))
    assert tomb.delete_by_keys(keys, "conv_id") > 0
    out["compacted"] = base.reader()
    out["two_segments"] = IncrementalIndexWriter(
        spark, str(root / "two_segments")
    ).reader()
    out["tombstones"] = tomb.reader()
    return out


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["term", "doc_id"], kind="stable").reset_index(
        drop=True
    )


def _assert_same_rows(pulled: pd.DataFrame, scanned: pd.DataFrame) -> None:
    assert list(pulled.columns) == list(scanned.columns)
    assert pulled.dtypes.to_dict() == scanned.dtypes.to_dict()
    a, b = _sorted(pulled), _sorted(scanned)
    assert a["term"].tolist() == b["term"].tolist()
    for col in ("doc_id", "tf", "norm_byte"):
        np.testing.assert_array_equal(a[col].to_numpy(), b[col].to_numpy())
    for p, q in zip(a["positions"], b["positions"]):
        if q is None:
            assert p is None
        else:
            assert p.dtype == q.dtype and p.tolist() == q.tolist()


@pytest.mark.parametrize("want_positions", [True, False])
@pytest.mark.parametrize("name", STORES + READERS)
def test_driver_read_equals_scan(indexes, name, want_positions):
    index = indexes[name]
    for splits in [None] + ([[0, 2, 5]] if name in STORES else []):
        pulled = index._pull_postings(TERMS, want_positions, splits)
        scanned = index._scan_postings(
            TERMS, want_positions, splits
        ).toPandas()
        assert len(pulled), (name, splits)
        _assert_same_rows(pulled, scanned)


def test_tombstoned_docs_are_not_pulled(indexes):
    live = indexes["tombstones"]._pull_postings(TERMS, False, None)
    whole = indexes["two_segments"]._pull_postings(TERMS, False, None)
    dead = set(whole["doc_id"]) - set(live["doc_id"])
    assert dead and dead <= set(
        indexes["tombstones"]._tombstones.to_pylist()
    )


def _priced_bytes(monkeypatch) -> list:
    """The compressed bytes of every driver read priced from now on."""
    sizes = []
    inner = DriverParquet.row_groups

    def spy(self, *args):
        picked, nbytes = inner(self, *args)
        sizes.append(nbytes)
        return picked, nbytes

    monkeypatch.setattr(DriverParquet, "row_groups", spy)
    return sizes


@pytest.mark.parametrize("name", ["write_segments", "tombstones"])
def test_fetch_at_byte_bound_plus_minus_one(indexes, monkeypatch, name):
    """The fetch reads on the driver at or under the byte bound; one
    byte over, it is the lazy scan. Same rows either side."""
    index = indexes[name]
    terms = ["error", "timeout"]
    _set_bound(monkeypatch, 1e12)  # the posting bound never binds
    sizes = _priced_bytes(monkeypatch)
    assert index.decode_postings_local(terms, True) is not None
    (n,) = sizes
    assert n > 0
    got = {}
    for delta in (-1, 0, 1):
        monkeypatch.setattr(W, "overhead_eq_bytes", lambda: n + delta)
        local = index.decode_postings_local(terms, True)
        assert (local is not None) == (delta >= 0), delta
        df = index.decode_postings(terms, True)
        assert ("Scan parquet" in _plan(df)) == (delta < 0), _plan(df)
        got[delta] = _sorted(df.toPandas())
    _assert_same_rows(got[-1], got[0])
    _assert_same_rows(got[1], got[0])


@pytest.mark.parametrize("name", ["write_segments", "tombstones"])
def test_second_query_reads_no_footer(spark, indexes, monkeypatch, name):
    """A view reads each footer it needs once: a second query over the
    same terms opens none."""
    index = indexes[name]
    fresh = (
        SegmentIndex.open(spark, index.index_dir)
        if name in STORES
        else IncrementalIndexWriter(spark, index.index_dir).reader()
    )
    s = Searcher(fresh)
    opened = []
    inner = pq.read_metadata
    monkeypatch.setattr(
        pq, "read_metadata", lambda *a, **kw: opened.append(a) or inner(*a, **kw)
    )
    assert s.search(Or("error", "timeout"), 10).collect()
    assert opened
    opened.clear()
    assert s.search(Or("timeout", "error"), 10).collect()
    assert s.search(TermQuery("error"), 10).collect()
    assert opened == []
