"""Segment store: codec round-trip through Spark, manifest commit,
kill-and-resume lineage, and rank-identity of the segment-backed searcher
vs both the flat index and the numpy oracle."""

import json
import os

import numpy as np
import pyarrow as pa
import pytest

from lucene_solr_spark.index.codec import (
    decode_block,
    decode_blocks,
    encode_term_blocks,
    varint_decode,
    varint_encode,
)
from lucene_solr_spark.index.segments import (
    SegmentIndex,
    read_manifest,
    write_segments,
)
from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.query import And, Or, PhraseQuery, TermQuery
from tests.conftest import assert_topk_equal


def test_varint_roundtrip_property():
    rng = np.random.default_rng(7)
    for _ in range(10):
        n = int(rng.integers(0, 2000))
        vals = rng.integers(0, 2**62, size=n).astype(np.uint64)
        assert (varint_decode(varint_encode(vals), n) == vals).all()


def _block_table(blocks: list[dict]) -> pa.Table:
    """Block dicts as the block columns decode_blocks reads."""
    return pa.table(
        {
            "term": pa.array([b.get("term", "t") for b in blocks], pa.string()),
            "first_doc": pa.array([b["first_doc"] for b in blocks], pa.int64()),
            "num_docs": pa.array([b["num_docs"] for b in blocks], pa.int32()),
            "docs_bin": pa.array([b["docs_bin"] for b in blocks], pa.binary()),
            "tfs_bin": pa.array([b["tfs_bin"] for b in blocks], pa.binary()),
            "norms_bin": pa.array([b["norms_bin"] for b in blocks], pa.binary()),
            "pos_bin": pa.array([b["pos_bin"] for b in blocks], pa.binary()),
        }
    )


def _assert_batched_matches(table, want_positions: bool) -> None:
    """decode_blocks over ``table`` equals decode_block row by row."""
    got = decode_blocks(table, want_positions)
    assert list(got.columns) == [
        "term", "doc_id", "tf", "positions", "norm_byte"
    ]
    assert [str(t) for t in got.dtypes] == [
        "object", "int64", "int32", "object", "int32"
    ]
    terms, docs, tfs, norms, poss = [], [], [], [], []
    for row in table.to_pylist():
        d, t, nb, p = decode_block(
            row["first_doc"], row["num_docs"], row["docs_bin"],
            row["tfs_bin"], row["norms_bin"],
            row["pos_bin"] if want_positions else None,
        )
        terms += [row["term"]] * len(d)
        docs.append(d)
        tfs.append(t)
        norms.append(nb)
        poss += p if p is not None else [None] * len(d)
    assert got["term"].tolist() == terms
    if not docs:
        assert len(got) == 0
        return
    assert (got["doc_id"].to_numpy() == np.concatenate(docs)).all()
    assert (got["tf"].to_numpy() == np.concatenate(tfs)).all()
    assert (got["norm_byte"].to_numpy() == np.concatenate(norms)).all()
    assert len(got["positions"]) == len(poss)
    for g, w in zip(got["positions"], poss):
        if w is None:
            assert g is None
        else:
            assert g.dtype == np.int32 and (g == w).all()


def _random_term_blocks(rng, n: int, doc_space: int, positions: bool):
    docs = np.sort(rng.choice(doc_space, size=n, replace=False))
    tfs = rng.integers(1, 9, size=n).astype(np.int64)
    norms = rng.integers(0, 256, size=n).astype(np.uint8)
    poss = [
        np.sort(rng.choice(1 << 20, size=int(t), replace=False))
        for t in tfs
    ] if positions else None
    return encode_term_blocks(docs.astype(np.int64), tfs, norms, poss)


@pytest.mark.parametrize("positions", [True, False])
def test_batched_decode_matches_decode_block(positions):
    """One decode_blocks pass over many terms' blocks: singleton and
    full 128-doc blocks, doc ids past 2^31 whose gaps take 5+ varint
    bytes, and position deltas of several bytes."""
    rng = np.random.default_rng(21)
    blocks = []
    for term, n, space in [
        ("single", 1, 10**6),  # one singleton block
        ("full", 256, 10**6),  # two full 128-doc blocks
        ("tail", 300, 10**9),  # 128 + 128 + 44
        ("wide", 200, 1 << 42),  # ids past 2^31, gaps ~2^34
    ]:
        for b in _random_term_blocks(rng, n, space, positions):
            b["term"] = term
            blocks.append(b)
    wide = [b for b in blocks if b["term"] == "wide"]
    assert wide[0]["first_doc"] > 2**31
    assert any(
        len(b["docs_bin"]) >= 5 * (b["num_docs"] - 1) + 1 for b in wide
    )  # every gap after the first takes 5+ bytes
    table = _block_table(blocks)
    assert {b["num_docs"] for b in blocks} >= {1, 128}
    for want in (True, False) if positions else (False,):
        _assert_batched_matches(table, want)


def test_batched_decode_null_pos_bin():
    """A block without positions (null pos_bin) decodes to None
    positions next to blocks that have them."""
    rng = np.random.default_rng(22)
    with_pos = _random_term_blocks(rng, 150, 10**5, True)
    without = _random_term_blocks(rng, 40, 10**5, False)
    assert all(b["pos_bin"] is None for b in without)
    table = _block_table(with_pos[:1] + without + with_pos[1:])
    assert table["pos_bin"].null_count == len(without)
    _assert_batched_matches(table, True)
    got = decode_blocks(table, True)
    assert got["positions"].isna().sum() == 40
    # all-null pos_bin, as in a store written without positions
    _assert_batched_matches(_block_table(without), True)


def test_batched_decode_empty_chunked_and_sliced():
    rng = np.random.default_rng(23)
    blocks = _random_term_blocks(rng, 700, 10**7, True)
    table = _block_table(blocks)
    # zero rows
    _assert_batched_matches(table.slice(0, 0), True)
    assert len(decode_blocks(table.schema.empty_table(), True)) == 0
    # a ChunkedArray of several chunks per column
    chunked = pa.concat_tables(
        [table.slice(0, 2), table.slice(2, 1), table.slice(3)]
    )
    assert chunked["docs_bin"].num_chunks == 3
    _assert_batched_matches(chunked, True)
    # non-zero array offsets: a slice, and a filter as _pull_postings
    # filters on term and on splits before decoding
    sliced = table.slice(2, 3)
    assert sliced["docs_bin"].chunk(0).offset == 2
    _assert_batched_matches(sliced, True)
    keep = pa.array(np.arange(len(blocks)) % 2 == 1)
    _assert_batched_matches(table.filter(keep), True)
    _assert_batched_matches(table.filter(keep).slice(1), False)
    # a RecordBatch in, as a mapInPandas batch is
    _assert_batched_matches(table.slice(1).combine_chunks().to_batches()[0], True)


def test_block_roundtrip_with_positions():
    rng = np.random.default_rng(3)
    docs = np.sort(rng.choice(10**9, size=300, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 9, size=300).astype(np.int64)
    norms = rng.integers(0, 256, size=300).astype(np.uint8)
    poss = [
        np.sort(rng.choice(4096, size=int(t), replace=False)).astype(np.int64)
        for t in tfs
    ]
    blocks = encode_term_blocks(docs, tfs, norms, poss)
    d_all, t_all, p_all = [], [], []
    for b in blocks:
        d, t, nb, p = decode_block(
            b["first_doc"], b["num_docs"], b["docs_bin"], b["tfs_bin"],
            b["norms_bin"], b["pos_bin"],
        )
        assert int(d[-1]) == b["last_doc"]
        assert int(t.max()) == b["max_tf"]
        d_all.append(d)
        t_all.append(t)
        p_all.extend(p)
    assert (np.concatenate(d_all) == docs).all()
    assert (np.concatenate(t_all) == tfs).all()
    for got, want in zip(p_all, poss):
        assert (got == want).all()
    _assert_batched_matches(_block_table(blocks), True)


def test_reblock_interleaved_runs():
    """Partial runs whose doc ranges INTERLEAVE (Spark packs scan files
    by size, not doc order) must still produce doc-sorted blocks with
    positions attached to the right docs."""
    from lucene_solr_spark.index.codec import encode_run, reblock_runs

    rng = np.random.default_rng(11)
    all_docs = np.sort(rng.choice(10**6, size=700, replace=False)).astype(
        np.int64
    )
    tfs = rng.integers(1, 6, size=700).astype(np.int64)
    norms = rng.integers(0, 256, size=700).astype(np.uint8)
    poss = [
        np.sort(rng.choice(4096, size=int(t), replace=False)).astype(np.int64)
        for t in tfs
    ]
    # deal docs round-robin into 3 runs -> fully interleaved ranges
    partials = []
    for r in range(3):
        sel = np.arange(r, 700, 3)
        flat = np.concatenate([poss[i] for i in sel])
        partials.append(
            encode_run(all_docs[sel], tfs[sel], norms[sel], flat)
        )
    # order by first_doc as the reducer does — still interleaved
    partials.sort(key=lambda p: p["first_doc"])
    blocks = reblock_runs(partials, keep_positions=True, block_size=128)
    d_all, t_all, n_all, p_all = [], [], [], []
    for b in blocks:
        d, t, nb, p = decode_block(
            b["first_doc"], b["num_docs"], b["docs_bin"], b["tfs_bin"],
            b["norms_bin"], b["pos_bin"],
        )
        assert (np.diff(d) > 0).all()
        assert int(d[0]) == b["first_doc"] and int(d[-1]) == b["last_doc"]
        d_all.append(d)
        t_all.append(t)
        n_all.append(nb)
        p_all.extend(p)
    assert (np.concatenate(d_all) == all_docs).all()
    assert (np.concatenate(t_all) == tfs).all()
    assert (np.concatenate(n_all) == norms).all()
    for got, want in zip(p_all, poss):
        assert (got == want).all()
    _assert_batched_matches(_block_table(blocks), True)


def test_reblock_interleaved_runs_no_positions():
    from lucene_solr_spark.index.codec import encode_run, reblock_runs

    rng = np.random.default_rng(12)
    all_docs = np.sort(rng.choice(10**6, size=300, replace=False)).astype(
        np.int64
    )
    tfs = rng.integers(1, 6, size=300).astype(np.int64)
    norms = rng.integers(0, 256, size=300).astype(np.uint8)
    partials = []
    for r in range(2):
        sel = np.arange(r, 300, 2)
        partials.append(encode_run(all_docs[sel], tfs[sel], norms[sel], None))
    partials.sort(key=lambda p: p["first_doc"])
    blocks = reblock_runs(partials, keep_positions=False, block_size=128)
    d_all, t_all = [], []
    for b in blocks:
        d, t, nb, _ = decode_block(
            b["first_doc"], b["num_docs"], b["docs_bin"], b["tfs_bin"],
            b["norms_bin"], None,
        )
        d_all.append(d)
        t_all.append(t)
    assert (np.concatenate(d_all) == all_docs).all()
    assert (np.concatenate(t_all) == tfs).all()
    _assert_batched_matches(_block_table(blocks), False)


def _kernel_groups(rng, sizes, positions):
    """One posting run per size: doc ids past 2^31 with gaps of 2^28 or
    more (5+ varint bytes), tfs up to 300 (several bytes each, as are
    the position deltas)."""
    groups = []
    for n in sizes:
        docs = (1 << 31) + np.cumsum(
            rng.integers(1 << 28, 1 << 30, size=n)
        ).astype(np.int64)
        tfs = rng.integers(1, 300, size=n).astype(np.int64)
        norms = rng.integers(0, 256, size=n).astype(np.uint8)
        poss = [
            np.sort(rng.choice(1 << 20, size=int(t), replace=False))
            for t in tfs
        ] if positions else None
        groups.append((docs, tfs, norms, poss))
    return groups


def _kernel_input(groups, positions):
    from lucene_solr_spark.index.codec import encode_positions

    def cat(i, dtype):
        return np.concatenate(
            [np.zeros(0, dtype)] + [g[i] for g in groups]
        ).astype(dtype)

    tf = cat(1, np.int64)
    bounds = np.cumsum([0] + [len(g[0]) for g in groups])
    pos = None
    if positions:
        flat = [p for g in groups for p in g[3]]
        pos = encode_positions(
            np.concatenate(flat) if flat else np.zeros(0, np.int64), tf
        )
    return cat(0, np.int64), tf, cat(2, np.uint8), bounds, pos


_KERNEL_COLS = ["num_docs", "first_doc", "last_doc", "max_tf", "min_nb",
                "sum_tf", "docs_bin", "tfs_bin", "norms_bin", "pos_bin"]


@pytest.mark.parametrize("positions", [True, False])
def test_encode_blocks_equals_references(positions):
    """codec.encode_blocks, the one engine encoder, writes byte for
    byte what the per-run references write: encode_term_blocks per
    group at BLOCK_SIZE and reblock_runs (which adds min_nb and sum_tf)
    over the group's partial runs, and encode_run per group when
    unbounded. Groups of 1, 127, 128, 129 and 300 docs; its blocks
    decode back through decode_blocks."""
    from lucene_solr_spark.index.codec import (
        encode_blocks,
        encode_run,
        reblock_runs,
    )

    rng = np.random.default_rng(31)
    sizes = [1, 127, 128, 129, 300]
    groups = _kernel_groups(rng, sizes, positions)
    doc, tf, nb, bounds, pos = _kernel_input(groups, positions)
    assert doc[0] > 2**31 and tf.max() > 127
    got = encode_blocks(doc, tf, nb, bounds, 128, pos)
    assert list(got["group"]) == [0, 1, 2, 3, 3, 4, 4, 4]
    want = []
    for g, (d, t, n, p) in enumerate(groups):
        ref = encode_term_blocks(d, t, n, p)
        # the same run dealt into two interleaved partials
        partials = [
            encode_run(
                d[k::2], t[k::2], n[k::2],
                np.concatenate(p[k::2]) if p else None,
            )
            for k in (0, 1) if len(d[k::2])
        ]
        merged = reblock_runs(sorted(partials, key=lambda r: r["first_doc"]),
                              positions)
        assert len(ref) == len(merged)
        for a, b in zip(ref, merged):
            assert {k: b[k] for k in a} == a
            want.append(tuple(b[k] for k in _KERNEL_COLS))
    rows = list(got[_KERNEL_COLS].itertuples(index=False, name=None))
    assert rows == want
    # unbounded: one row per group, each the group's encode_run
    runs = encode_blocks(doc, tf, nb, bounds, None, pos)
    assert len(runs) == len(sizes)
    for (d, t, n, p), row in zip(
        groups, runs.to_dict("records")
    ):
        ref = encode_run(d, t, n, np.concatenate(p) if p else None)
        assert {k: row[k] for k in ref} == ref
        assert row["sum_tf"] == int(t.sum())
    # round trip
    got["term"] = "t"
    table = pa.Table.from_pandas(
        got.drop(columns=["group"]), preserve_index=False
    )
    dec = decode_blocks(table, positions)
    assert (dec["doc_id"].to_numpy() == doc).all()
    assert (dec["tf"].to_numpy() == tf).all()
    assert (dec["norm_byte"].to_numpy() == nb).all()
    if positions:
        for a, b in zip(dec["positions"], (p for g in groups for p in g[3])):
            assert (a == b).all()
    else:
        assert dec["positions"].isna().all()


def test_encode_blocks_zero_groups_and_moved_spans():
    """No groups gives no rows; position spans handed over out of order
    (as the merge hands them after repairing interleaved runs) are laid
    end to end in row order."""
    from lucene_solr_spark.index.codec import encode_blocks

    empty = encode_blocks(
        np.zeros(0, np.int64), np.zeros(0, np.int64), np.zeros(0, np.uint8),
        np.zeros(1, np.int64), 128, (b"", np.zeros(0, np.int64),
                                     np.zeros(0, np.int64)),
    )
    assert len(empty) == 0 and list(empty.columns) == ["group"] + _KERNEL_COLS
    rng = np.random.default_rng(32)
    [(d, t, n, p)] = _kernel_groups(rng, [200], True)
    _, tf, _, bounds, (stream, lo, hi) = _kernel_input([(d, t, n, p)], True)
    rev = np.arange(len(d))[::-1]
    # the docs' spans listed backwards over a stream stored backwards
    back = b"".join(bytes(stream[a:b]) for a, b in zip(lo[rev], hi[rev]))
    lens = (hi - lo)[rev]
    blo = np.concatenate(([0], np.cumsum(lens)[:-1]))[rev]
    got = encode_blocks(d, t, n, bounds, 128, (back, blo, blo + (hi - lo)))
    want = encode_term_blocks(d, t, n, p)
    assert list(got["pos_bin"]) == [b["pos_bin"] for b in want]


@pytest.fixture(scope="module")
def seg_index(tiny_index, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("segidx"))
    return write_segments(tiny_index, d, n_buckets=8), d


def test_segment_manifest(seg_index):
    seg, d = seg_index
    m = read_manifest(d)
    assert m["generation"] == 1
    assert m["n_buckets"] == 8
    assert len(m["buckets"]) == 8
    assert m["max_doc"] == seg.stats.max_doc
    assert os.path.isdir(f"{d}/postings/bucket=0")


def test_segment_rank_identity(seg_index, tiny_oracle):
    seg, _ = seg_index
    s = Searcher(seg, exact_float32=True)
    cases = [
        (TermQuery("error"), tiny_oracle.query_term("error")),
        (And("error", "timeout"), tiny_oracle.query_and(["error", "timeout"])),
        (Or("error", "timeout", "deploy"),
         tiny_oracle.query_or(["error", "timeout", "deploy"])),
        (PhraseQuery(["error", "timeout"]),
         tiny_oracle.query_phrase(["error", "timeout"])),
    ]
    for q, want_scores in cases:
        got = s.search(q, 10).collect()
        want = tiny_oracle.top_k(want_scores, 10)
        assert_topk_equal(got, want)


def test_kill_and_resume_equals_uninterrupted(
    spark, tiny_index, tiny_oracle, tmp_path
):
    """Build interrupted after 3 of 8 buckets -> resume -> result equals
    an uninterrupted build (FIXTURES.md §6 resumability property)."""
    d = str(tmp_path / "resumable")
    full = write_segments(tiny_index, d, n_buckets=8)
    full_blocks = full.blocks.count()

    d2 = str(tmp_path / "interrupted")
    # simulate the kill: write a manifest claiming only buckets 0-2 done,
    # leave a partial (uncommitted) dir for bucket 3
    seg = write_segments(tiny_index, d2, n_buckets=8)
    m = read_manifest(d2)
    for b in range(3, 8):
        del m["buckets"][str(b)]
    import shutil

    with open(f"{d2}/segments_1.json", "w") as f:
        json.dump(m, f)
    os.remove(f"{d2}/segments_2.json") if os.path.exists(
        f"{d2}/segments_2.json"
    ) else None
    # bucket 4..7 data removed entirely; bucket 3 left partial (stale)
    for b in range(4, 8):
        shutil.rmtree(f"{d2}/postings/bucket={b}")

    resumed = write_segments(tiny_index, d2, n_buckets=8)
    assert resumed.blocks.count() == full_blocks
    m2 = read_manifest(d2)
    assert len(m2["buckets"]) == 8
    s = Searcher(resumed, exact_float32=True)
    got = s.search(Or("error", "timeout"), 10).collect()
    want = tiny_oracle.top_k(tiny_oracle.query_or(["error", "timeout"]), 10)
    assert_topk_equal(got, want)


def test_compression_is_effective(seg_index):
    seg, _ = seg_index
    row = seg.blocks.selectExpr(
        "sum(num_docs) as n",
        "sum(length(docs_bin) + length(tfs_bin) + length(norms_bin)) as b",
    ).collect()[0]
    bytes_per_posting = row["b"] / row["n"]
    assert bytes_per_posting < 6.0, bytes_per_posting


@pytest.fixture(scope="module")
def seg_index_splits(small_index, tmp_path_factory):
    """Segment store with a tiny split_range so the 5000-doc corpus spans
    many splits — exercises the WAND split bounds (at real scale the
    default 2^20-wide splits play this role)."""
    d = str(tmp_path_factory.mktemp("segidx_splits"))
    return write_segments(
        small_index, d, n_buckets=8, split_range=256
    )


def test_wand_rank_identical_to_unpruned(seg_index_splits, small_oracle):
    """Block-max WAND pruning is score-safe: identical docIDs and scores
    to the exhaustive OR path (SURVEY.md M5 invariant)."""
    from lucene_solr_spark.search.wand import wand_or_search

    seg = seg_index_splits
    assert seg.split_range == 256
    s = Searcher(seg)
    for terms in [
        ["error", "timeout", "deploy"],
        ["cache", "retry"],
        ["shard", "merge", "commit", "latency"],
        ["zzzabsent", "error"],
    ]:
        want = s.search(Or(*terms), 10, prune=False).collect()
        got = wand_or_search(s, terms, 10).collect()
        assert [(r["doc_id"]) for r in got] == [(r["doc_id"]) for r in want]
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) <= 1e-9 * max(
                1.0, abs(w["score"])
            )


def test_multiterm_over_cap_broadcast_fallback(
    seg_index_splits, monkeypatch
):
    """Expansions beyond the 1024-clause cap must use the broadcast
    semi-join path (no driver dictionary collect) and return the same
    doc set. Cap forced to 2 so the tiny corpus exercises it."""
    import lucene_solr_spark.search.executor as ex
    from lucene_solr_spark.search.query import PrefixQuery

    s = Searcher(seg_index_splits)
    want = sorted(
        r["doc_id"]
        for r in s.score(PrefixQuery("e")).select("doc_id").distinct().collect()
    )
    monkeypatch.setattr(ex, "MULTITERM_REWRITE_CAP", 2)
    got = sorted(
        r["doc_id"]
        for r in s.score(PrefixQuery("e")).select("doc_id").distinct().collect()
    )
    assert got == want and len(want) > 0


def test_wand_duplicate_terms_match_or(seg_index_splits):
    """Duplicate SHOULD clauses score twice in Or(...); WAND must fold
    the multiplicity into the weight, not collapse duplicates."""
    from lucene_solr_spark.search.wand import wand_or_search

    s = Searcher(seg_index_splits)
    terms = ["error", "error", "timeout"]
    want = s.search(Or(*terms), 10, prune=False).collect()
    got = wand_or_search(s, terms, 10).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) <= 1e-9 * max(1.0, abs(w["score"]))


def test_wand_prunes_splits(seg_index_splits):
    """The metadata bound actually skips work: for a rare-term query the
    surviving split set is a strict subset of all splits."""
    import pyspark.sql.functions as F

    seg = seg_index_splits
    s = Searcher(seg)
    # count distinct splits for a rare term's postings
    n_splits_total = seg.stats.max_doc // seg.split_range + 1
    # errcode tokens are unique per conversation -> ultra-rare
    term_row = (
        seg.terms_stats.where(F.col("term").startswith("errcode"))
        .select("term").limit(1).collect()
    )
    rare = term_row[0]["term"]
    from lucene_solr_spark.search.wand import wand_or_search

    got = wand_or_search(s, [rare], 10).collect()
    want = s.search(TermQuery(rare), 10, prune=False).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    # a df=1 term occupies exactly one split; WAND must visit just it
    assert n_splits_total > 1


def test_build_segment_store_single_pass(spark, tiny_pdf, tiny_index, tiny_oracle, tmp_path):
    """The single-pass builder (metadata-derived stats) produces the same
    collection stats and rank-identical results as build_index +
    write_segments."""
    from lucene_solr_spark.index.segments import build_segment_store

    d = str(tmp_path / "onepass")
    sdf = spark.createDataFrame(
        tiny_pdf.drop(columns=["doc_id"])
    ).repartition(4, "conv_id")
    seg = build_segment_store(
        spark, sdf, d, n_buckets=8, order_cols=["conv_id", "turn_idx"]
    )
    assert seg.stats.max_doc == tiny_index.stats.max_doc
    assert (
        seg.stats.sum_total_term_freq
        == tiny_index.stats.sum_total_term_freq
    )
    # terms_stats parity on a few terms
    want = tiny_index.term_stats(["error", "timeout", "the"])
    got = seg.term_stats(["error", "timeout", "the"])
    assert got == want
    s = Searcher(seg, exact_float32=True)
    for q, want_scores in [
        (TermQuery("error"), tiny_oracle.query_term("error")),
        (Or("error", "timeout", "deploy"),
         tiny_oracle.query_or(["error", "timeout", "deploy"])),
        (PhraseQuery(["error", "timeout"]),
         tiny_oracle.query_phrase(["error", "timeout"])),
    ]:
        assert_topk_equal(
            s.search(q, 10).collect(), tiny_oracle.top_k(want_scores, 10)
        )


def test_batch_merge_equals_per_group_reference():
    """The frame-batched reducer must produce the SAME block set as
    per-group reblock_runs, including under interleaved map-task doc
    ranges (even/odd striping)."""
    import pandas as pd

    from lucene_solr_spark.corpus import generate_transcripts
    from lucene_solr_spark.index.codec import reblock_runs
    from lucene_solr_spark.index.segments import (
        _invert_flush_partitions,
        _merge_partials_stream,
    )

    frames = []
    for t in range(3):
        pdf = generate_transcripts(2000, seed=300 + t).reset_index(
            drop=True
        )
        pdf["doc_id"] = np.arange(len(pdf), dtype=np.int64) * 3 + t
        kern = _invert_flush_partitions(1 << 20, True)
        frames.extend(list(kern(iter([pdf[["doc_id", "text"]]]))))
    allp = (
        pd.concat(frames, ignore_index=True)
        .sort_values(["term", "first_doc"])
        .reset_index(drop=True)
    )
    allp["bucket"] = 0
    merge = _merge_partials_stream(1 << 20, True)
    out = pd.concat(list(merge(iter([allp]))), ignore_index=True)
    cols = {
        c: allp[c].to_numpy()
        for c in (
            "term", "num_docs", "first_doc", "docs_bin", "tfs_bin",
            "norms_bin", "pos_bin",
        )
    }
    terms = cols["term"]
    bounds = np.concatenate(
        ([0], np.flatnonzero(terms[1:] != terms[:-1]) + 1, [len(allp)])
    )
    want = set()
    for i in range(len(bounds) - 1):
        s, e = int(bounds[i]), int(bounds[i + 1])
        partials = [
            dict(
                num_docs=int(cols["num_docs"][j]),
                first_doc=int(cols["first_doc"][j]),
                docs_bin=cols["docs_bin"][j],
                tfs_bin=cols["tfs_bin"][j],
                norms_bin=cols["norms_bin"][j],
                pos_bin=cols["pos_bin"][j],
            )
            for j in range(s, e)
        ]
        for blk in reblock_runs(partials, True):
            want.add(
                (
                    terms[s], blk["num_docs"], blk["first_doc"],
                    blk["last_doc"], blk["max_tf"], blk["min_nb"],
                    blk["sum_tf"], blk["docs_bin"], blk["tfs_bin"],
                    blk["norms_bin"], blk["pos_bin"],
                )
            )
    got = set(
        out[
            [
                "term", "num_docs", "first_doc", "last_doc", "max_tf",
                "min_nb", "sum_tf", "docs_bin", "tfs_bin", "norms_bin",
                "pos_bin",
            ]
        ].itertuples(index=False, name=None)
    )
    assert got == want and len(want) > 100


def test_terms_stats_equal_postings_metadata(spark, tiny_pdf, tmp_path):
    """A fresh full build writes terms_stats as the (term, bucket) ->
    (df, ttf) aggregation over the block metadata, leaves no side
    directory behind, and its collection stats agree."""
    import os

    import pyspark.sql.functions as F

    from lucene_solr_spark.index.segments import build_segment_store

    d = str(tmp_path / "metastats")
    sdf = spark.createDataFrame(
        tiny_pdf.drop(columns=["doc_id"])
    ).repartition(4, "conv_id")
    seg = build_segment_store(
        spark, sdf, d, n_buckets=8, order_cols=["conv_id", "turn_idx"]
    )
    assert not os.path.exists(os.path.join(d, "_term_stats_parts"))
    got = {
        (r["term"], r["bucket"]): (int(r["df"]), int(r["ttf"]))
        for r in seg.terms_stats.collect()
    }
    want = {
        (r["term"], r["bucket"]): (int(r["df"]), int(r["ttf"]))
        for r in (
            spark.read.parquet(f"{d}/postings")
            .groupBy("term", "bucket")
            .agg(F.sum("num_docs").alias("df"), F.sum("sum_tf").alias("ttf"))
            .collect()
        )
    }
    assert got == want and len(want) > 50
    # collection stats observed during the write match the store
    assert seg.stats.sum_total_term_freq == sum(
        v[1] for v in want.values()
    )


def test_wand_and_rank_identical_to_exhaustive(seg_index_splits):
    """Conjunction block-max pruning is score-safe: identical docIDs and
    scores to the exhaustive AND path for common∧common, rare∧common and
    3-way conjunctions."""
    from lucene_solr_spark.search.wand import wand_and_search

    s = Searcher(seg_index_splits)
    for terms in [
        ["error", "timeout"],
        ["cache", "retry"],
        ["shard", "merge", "commit"],
        ["zzzabsent", "error"],
    ]:
        want = s.search(And(*terms), 10, prune=False).collect()
        got = wand_and_search(s, terms, 10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) <= 1e-9 * max(
                1.0, abs(w["score"])
            )


def test_wand_and_prunes_splits_on_skewed_corpus(spark, tmp_path):
    """On a corpus where both terms are common everywhere but only one
    doc-range has high-tf/short docs, the conjunction must (a) drop
    splits missing a MUST term on metadata alone and (b) decode fewer
    splits than the exhaustive path touches — the ConjunctionScorer
    leapfrog analogue the r3 verdict prescribed."""
    import pandas as pd

    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.wand import wand_and_search

    rows = []
    for i in range(2000):
        if i < 100:
            # hot split: both terms with high tf, short docs
            text = "alpha beta " * 8
        elif 1000 <= i < 1100:
            # a split where 'beta' is entirely absent
            text = "alpha filler" + " pad" * 30
        else:
            # both terms present once, long docs -> low score bound
            text = "alpha beta" + " pad" * 40
        rows.append((i, text))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    idx = build_index(spark, spark.createDataFrame(pdf), cache=True)
    seg = write_segments(
        idx, str(tmp_path / "skewseg"), n_buckets=4, split_range=100
    )
    s = Searcher(seg)
    stats: dict = {}
    got = wand_and_search(
        s, ["alpha", "beta"], 10, stats_out=stats, force_prune=True
    ).collect()
    want = s.search(And("alpha", "beta"), 10, prune=False).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) <= 1e-9 * max(1.0, abs(w["score"]))
    # 'alpha' spans 20 splits; the beta-free split must fall at the
    # presence prune, and the θ bound must prune the low-tf splits
    assert stats["splits_any"] == 20
    assert stats["splits_all"] == 19  # one split has no 'beta'
    assert stats["splits_decoded"] < stats["splits_all"], stats
    # the hot split alone should satisfy top-10 here
    assert stats["splits_decoded"] == 1, stats
    # cost-model default: when the metadata predicts the seed walk
    # cannot repay its extra job (overhead forced sky-high), the
    # one-job shortcut decodes every candidate — identical results
    from lucene_solr_spark.search import wand as W

    old = W._JOB_OVERHEAD_SEC
    W._JOB_OVERHEAD_SEC = 1e9
    try:
        stats2: dict = {}
        got2 = wand_and_search(
            s, ["alpha", "beta"], 10, stats_out=stats2
        ).collect()
    finally:
        W._JOB_OVERHEAD_SEC = old
    assert [r["doc_id"] for r in got2] == [r["doc_id"] for r in want]
    assert stats2["splits_decoded"] == stats2["splits_all"] == 19
    # ... and when the model predicts a win (overhead zero, every
    # below-bound split counts as prunable), the walk engages on its
    # own — this skewed corpus IS a predicted win with the measured
    # defaults too (cold splits' postings > break-even)
    W._JOB_OVERHEAD_SEC = 0.0
    try:
        stats3: dict = {}
        got3 = wand_and_search(
            s, ["alpha", "beta"], 10, stats_out=stats3
        ).collect()
    finally:
        W._JOB_OVERHEAD_SEC = old
    assert [r["doc_id"] for r in got3] == [r["doc_id"] for r in want]
    assert stats3["splits_decoded"] < stats3["splits_all"]


def test_wand_and_absent_term_empty(seg_index_splits):
    from lucene_solr_spark.search.wand import wand_and_search

    s = Searcher(seg_index_splits)
    stats: dict = {}
    got = wand_and_search(
        s, ["zzznope", "error"], 10, stats_out=stats
    ).collect()
    assert got == [] and stats["splits_decoded"] == 0


def test_wand_phrase_rank_identical_to_unpruned(seg_index_splits):
    """Phrase split pruning is score-safe: identical docIDs and scores
    to the exhaustive phrase path, exact and sloppy."""
    from lucene_solr_spark.search.wand import wand_phrase_search

    s = Searcher(seg_index_splits)
    for terms, slop in [
        (["merge", "commit"], 0),
        (["error", "timeout"], 2),
        (["cache", "retry"], 4),
    ]:
        want = s.search(PhraseQuery(terms, slop=slop), 10, prune=False).collect()
        got = wand_phrase_search(s, terms, slop, 10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], terms
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) <= 1e-9 * max(
                1.0, abs(w["score"])
            )


def test_wand_phrase_prunes_splits(spark, tmp_path):
    """Presence pruning: splits where either phrase term is absent are
    never decoded; the θ bound prunes low-tf splits."""
    import pandas as pd

    from lucene_solr_spark.index.builder import build_index
    from lucene_solr_spark.search.wand import wand_phrase_search

    rows = []
    for i in range(2000):
        if i < 100:
            text = "alpha beta " * 6          # hot: phrase tf 6, short
        elif 1000 <= i < 1100:
            text = "alpha filler" + " pad" * 30   # no 'beta'
        else:
            text = "alpha beta" + " pad" * 40     # phrase tf 1, long
        rows.append((i, text))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    idx = build_index(spark, spark.createDataFrame(pdf), cache=True)
    seg = write_segments(
        idx, str(tmp_path / "phrseg"), n_buckets=4, split_range=100
    )
    s = Searcher(seg)
    stats: dict = {}
    got = wand_phrase_search(
        s, ["alpha", "beta"], 0, 10, stats_out=stats, force_prune=True
    ).collect()
    want = s.search(PhraseQuery(["alpha", "beta"]), 10, prune=False).collect()
    assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) <= 1e-9 * max(1.0, abs(w["score"]))
    assert stats["splits_any"] == 20
    assert stats["splits_all"] == 19     # the beta-free split dropped
    assert stats["splits_decoded"] == 1, stats


def test_search_auto_routes_to_wand_on_segment_store(seg_index_splits):
    """searcher.search() on a segment store must take the pruned path
    for OR/AND/phrase/term shapes by default and stay rank-identical to
    the exhaustive plan (prune=False)."""
    from lucene_solr_spark.search import wand as W

    s = Searcher(seg_index_splits)
    for q in [
        Or("error", "timeout"),
        And("error", "timeout"),
        PhraseQuery(["merge", "commit"]),
        TermQuery("error"),
    ]:
        want = s.search(q, 10, prune=False).collect()
        got = s.search(q, 10).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in want], q
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) <= 1e-9 * max(
                1.0, abs(w["score"])
            )
    # shapes the bounds don't cover fall back to the exhaustive plan
    assert s._wand_route(Or("error", min_should_match=2), 10) is None
    assert s._wand_route(TermQuery("error", boost=2.0), 10) is None


def test_flat_index_never_routes(small_index):
    s = Searcher(small_index)
    assert s._wand_route(Or("error", "timeout"), 10) is None


def test_open_specific_commit_point(spark, seg_index_splits, tmp_path):
    """Time travel: SegmentIndex.open(generation=N) reads THAT retained
    commit point (DirectoryReader.open(IndexCommit) analogue); the
    latest-gen default is unchanged; a never-committed generation
    raises."""
    import pytest as _pytest

    from lucene_solr_spark.index.segments import (
        SegmentIndex,
        commit_manifest,
        read_manifest,
    )

    d = seg_index_splits.index_dir
    cur = read_manifest(d)
    gen = int(cur["generation"])
    # retain a NEW commit point with a doctored max_doc — the old
    # generation must still read back exactly as before
    nxt = dict(cur)
    nxt["generation"] = gen + 1
    nxt["max_doc"] = cur["max_doc"] + 12345
    commit_manifest(d, nxt)
    try:
        old = SegmentIndex.open(spark, d, generation=gen)
        new = SegmentIndex.open(spark, d)
        assert old.stats.max_doc == cur["max_doc"]
        assert new.stats.max_doc == cur["max_doc"] + 12345
        with _pytest.raises(FileNotFoundError):
            SegmentIndex.open(spark, d, generation=gen + 99)
    finally:
        import os

        os.remove(f"{d}/segments_{gen + 1}.json")


def test_check_index_clean_and_corrupt(spark, seg_index_splits):
    """CheckIndex analogue (CheckIndex.java:430-700): all checks pass
    on a healthy store; a doctored manifest stat is caught."""
    from lucene_solr_spark.index.checkindex import check_index
    from lucene_solr_spark.index.segments import SegmentIndex

    res = {r["check"]: r for r in check_index(seg_index_splits).collect()}
    assert res and all(r["ok"] for r in res.values()), res

    # corrupt a copy's manifest: sum_total_term_freq off by one
    bad_man = dict(seg_index_splits.manifest)
    bad_man["sum_total_term_freq"] = bad_man["sum_total_term_freq"] + 1
    bad = SegmentIndex(
        spark, seg_index_splits.index_dir, bad_man
    )
    res2 = {r["check"]: r for r in check_index(bad).collect()}
    assert not res2["sum_total_term_freq"]["ok"]
    assert res2["terms_stats_vs_postings"]["ok"]
