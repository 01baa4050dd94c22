"""SegmentIndex.term_stats is served from the memoized split_meta rows
(df = Σ num_docs, ttf = Σ sum_tf over a term's blocks). It must equal
the persisted terms_stats table for every term, whichever path wrote
the store."""

from __future__ import annotations

import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.merger import merge_stores
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    build_segment_store,
    write_segments,
)


def _table(seg) -> dict:
    return {
        r["term"]: (int(r["df"]), int(r["ttf"]))
        for r in seg.terms_stats.select("term", "df", "ttf").collect()
    }


def _assert_stats_match_table(seg) -> None:
    want = _table(seg)
    assert want
    fresh = SegmentIndex.open(seg.spark, seg.index_dir)
    assert fresh.term_stats(sorted(want) + ["zzqabsent"]) == want
    # served again from the memo, one term at a time
    some = sorted(want)[:: max(1, len(want) // 7)]
    for t in some:
        assert fresh.term_stats([t]) == {t: want[t]}


def test_build_segment_store(spark, tiny_pdf, tmp_path):
    docs = spark.createDataFrame(tiny_pdf.drop(columns=["doc_id"]))
    seg = build_segment_store(
        spark, docs, str(tmp_path / "bss"), n_buckets=4, split_range=64,
        order_cols=["conv_id", "turn_idx"],
    )
    _assert_stats_match_table(seg)


def test_write_segments(tiny_index, tmp_path):
    seg = write_segments(
        tiny_index, str(tmp_path / "ws"), n_buckets=4, split_range=64
    )
    _assert_stats_match_table(seg)


@pytest.mark.parametrize("rebase", [True, False])
def test_merge_stores(spark, tmp_path, rebase):
    def store(name, first_id, texts):
        docs = spark.createDataFrame(
            [(first_id + i, t) for i, t in enumerate(texts)],
            "doc_id long, text string",
        )
        return write_segments(
            build_index(spark, docs), str(tmp_path / name),
            n_buckets=2, split_range=4,
        )

    a = store("a", 0, ["alpha beta", "alpha gamma", "beta beta alpha",
                       "delta", "alpha"])
    # rebase=False needs disjoint id spaces: b starts after a
    b = store("b", 0 if rebase else 5, ["alpha alpha", "delta beta",
                                        "gamma gamma gamma"])
    merged = merge_stores(
        spark, [a.index_dir, b.index_dir], str(tmp_path / "m"),
        rebase=rebase,
    )
    _assert_stats_match_table(merged)
    assert merged.term_stats(["alpha", "gamma"]) == {
        "alpha": (5, 6), "gamma": (2, 4)
    }


def test_split_meta_call_above_cache_cap(tiny_index, tmp_path, monkeypatch):
    seg = write_segments(
        tiny_index, str(tmp_path / "cap"), n_buckets=4, split_range=64
    )
    want = _table(seg)
    terms = sorted(want)[:3]
    monkeypatch.setattr(SegmentIndex, "_SPLIT_META_CACHE_MAX", 2)
    meta = seg.split_meta(terms)
    assert sorted(set(meta["term"])) == terms
    assert len(seg._split_meta_cache) <= 2
    assert seg.term_stats(terms) == {t: want[t] for t in terms}
    assert len(seg._split_meta_cache) <= 2
