"""Every segment-store writer writes the same store: build_segment_store,
write_segments (positions on and off), a write_fielded_segments field
store, and merge_stores(rebase=False) of pk_split halves all encode
through codec.encode_blocks and finish through one stats-and-commit
tail. Over one corpus with fixed doc ids, each store's block rows,
sorted by (term, first_doc), are the same rows, each equal to
encode_term_blocks over its (term, split) run of build_index's flat
postings; terms_stats equals build_index's flat groupBy; and check_index
is clean."""

from __future__ import annotations

import numpy as np
import pytest

from lucene_solr_spark.index.builder import build_index
from lucene_solr_spark.index.checkindex import check_index
from lucene_solr_spark.index.codec import decode_block, encode_term_blocks
from lucene_solr_spark.index.fields import (
    build_fielded_index,
    write_fielded_segments,
)
from lucene_solr_spark.index.merger import merge_stores
from lucene_solr_spark.index.norms import NORM_TABLE
from lucene_solr_spark.index.segments import (
    build_segment_store,
    write_segments,
)
from lucene_solr_spark.index.splitter import pk_split

SPLIT = 2048  # 128+ docs per (term, split) for the head terms
BUCKETS = 4
COLS = ["bucket", "term", "num_docs", "first_doc", "last_doc", "max_tf",
        "min_nb", "sum_tf", "docs_bin", "tfs_bin", "norms_bin", "pos_bin"]


def _rows(seg) -> list[tuple]:
    pdf = seg.blocks.select(*COLS).toPandas()
    pdf = pdf.sort_values(["term", "first_doc"], ignore_index=True)
    return [
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v
              for v in row)
        for row in pdf.itertuples(index=False, name=None)
    ]


def _reference(flat, keep_positions: bool, split_range: int) -> list[tuple]:
    """encode_term_blocks over each (term, split) run of flat postings,
    with min_nb and sum_tf per block; no bucket column."""
    flat = flat.sort_values(["term", "doc_id"], ignore_index=True)
    out = []
    split = flat["doc_id"].to_numpy() // split_range
    for (term, _), run in flat.groupby([flat["term"], split], sort=True):
        d = run["doc_id"].to_numpy(np.int64)
        t = run["tf"].to_numpy(np.int64)
        nb = run["norm_byte"].to_numpy().astype(np.uint8)
        pos = (
            [np.asarray(p, np.int64) for p in run["positions"]]
            if keep_positions else None
        )
        s = 0
        for b in encode_term_blocks(d, t, nb, pos):
            e = s + b["num_docs"]
            out.append((
                term, b["num_docs"], b["first_doc"], b["last_doc"],
                b["max_tf"], int(nb[s:e][np.argmin(NORM_TABLE[nb[s:e]])]),
                int(t[s:e].sum()), b["docs_bin"], b["tfs_bin"],
                b["norms_bin"], b["pos_bin"],
            ))
            s = e
    return sorted(out, key=lambda r: (r[0], r[2]))


def _stats(df) -> dict:
    return {
        r["term"]: (int(r["df"]), int(r["ttf"]))
        for r in df.select("term", "df", "ttf").collect()
    }


@pytest.fixture(scope="module")
def writers(spark, tmp_path_factory):
    from lucene_solr_spark.corpus import generate_transcripts

    base = tmp_path_factory.mktemp("writers")
    pdf = generate_transcripts(3000, seed=5).sort_values(
        ["conv_id", "turn_idx"], ignore_index=True
    )
    pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64)  # fixed ids
    docs = spark.createDataFrame(pdf).repartition(4, "conv_id")
    idx = build_index(spark, docs, cache=True)
    bss = build_segment_store(
        spark, docs, str(base / "bss"), n_buckets=BUCKETS, split_range=SPLIT
    )
    stores = {
        "build_segment_store": bss,
        "write_segments": write_segments(
            idx, str(base / "ws"), n_buckets=BUCKETS, split_range=SPLIT
        ),
        "write_segments_nopos": write_segments(
            idx, str(base / "ws_nopos"), n_buckets=BUCKETS,
            split_range=SPLIT, keep_positions=False,
        ),
    }
    fidx = build_fielded_index(spark, docs, ["text"], cache=True)
    # a field store takes write_segments' default split_range
    stores["write_fielded_segments"] = write_fielded_segments(
        fidx, str(base / "fielded"), n_buckets=BUCKETS
    ).stores["text"]
    # a split-aligned mid: every block lies on one side and is copied
    mid = SPLIT
    lo, hi = pk_split(spark, bss.index_dir, str(base / "lo"),
                      str(base / "hi"), mid)
    stores["merge_stores"] = merge_stores(
        spark, [lo.index_dir, hi.index_dir], str(base / "merged"),
        rebase=False,
    )
    flat = idx.postings.toPandas()
    return dict(spark=spark, idx=idx, stores=stores, flat=flat, base=base,
                bss=bss)


def test_every_writer_writes_the_reference_blocks(writers):
    flat, stores = writers["flat"], writers["stores"]
    rows = {name: _rows(seg) for name, seg in stores.items()}
    assert stores["write_fielded_segments"].split_range != SPLIT
    for name, got in rows.items():
        seg = stores[name]
        want = _reference(flat, seg.keep_positions, seg.split_range)
        assert len(want) > 200
        assert {r[1] for r in want} >= {1, 128}  # singletons and full
        assert [r[1:] for r in got] == want, name
    # writers with the same split_range and positions write the same
    # rows, bucket column included
    for name in ("write_segments", "merge_stores"):
        assert rows[name] == rows["build_segment_store"], name
    assert [r[:-1] for r in rows["write_segments_nopos"]] == [
        r[:-1] for r in rows["build_segment_store"]
    ]


def test_every_writer_writes_flat_terms_stats(writers):
    want = _stats(writers["idx"].terms_stats)
    seg_stats = writers["idx"].stats
    for name, seg in writers["stores"].items():
        assert _stats(seg.terms_stats) == want, name
        assert seg.stats.max_doc == seg_stats.max_doc, name
        assert (
            seg.stats.sum_total_term_freq == seg_stats.sum_total_term_freq
        ), name


def test_every_writer_passes_check_index(writers):
    for name, seg in writers["stores"].items():
        bad = [r for r in check_index(seg).collect() if not r["ok"]]
        assert not bad, (name, bad)


def test_unaligned_pk_split_reencodes_straddling_blocks(writers):
    """A mid inside a split re-encodes the blocks that straddle it; every
    block of both halves still equals encode_term_blocks over its own
    docs, and the halves hold exactly the source's postings."""
    spark, bss, base = writers["spark"], writers["bss"], writers["base"]
    mid = SPLIT // 2 + 1
    stats: dict = {}
    lo, hi = pk_split(spark, bss.index_dir, str(base / "ulo"),
                      str(base / "uhi"), mid, stats_out=stats)
    assert stats["blocks_reencoded"] > 0
    postings = []
    for half in (lo, hi):
        for row in _rows(half):
            (_, _, n, first, last, max_tf, min_nb, sum_tf,
             docs_bin, tfs_bin, norms_bin, pos_bin) = row
            d, t, nb, p = decode_block(first, n, docs_bin, tfs_bin,
                                       norms_bin, pos_bin)
            [ref] = encode_term_blocks(d, t, nb, p)
            assert (ref["last_doc"], ref["max_tf"], ref["docs_bin"],
                    ref["tfs_bin"], ref["norms_bin"], ref["pos_bin"]) == (
                last, max_tf, docs_bin, tfs_bin, norms_bin, pos_bin)
            assert min_nb == int(nb[np.argmin(NORM_TABLE[nb])])
            assert sum_tf == int(t.sum())
            postings.extend((row[1], int(x)) for x in d)
        # a half keeps the source's doc ids, so the upper half's ids run
        # past its own max_doc; every other check holds
        bad = [r["check"] for r in check_index(half).collect() if not r["ok"]]
        assert bad in ([], ["doc_id_bounds"]), bad
    flat = writers["flat"]
    assert sorted(postings) == sorted(
        zip(flat["term"], flat["doc_id"].astype(int))
    )
