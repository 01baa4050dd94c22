"""Segment-style persisted index — the SegmentInfos / commit-point analogue.

Layout under ``index_dir``:
  postings/bucket=<b>/...parquet   block-encoded postings (codec.py)
  terms_stats/...parquet           (term, df, ttf, bucket)
  docs/...parquet                  doc store (stored-fields analogue)
  segments_<gen>.json              commit manifest (two-phase: .tmp+rename,
                                   mirroring prepareCommit/finishCommit,
                                   lucene/core/.../index/SegmentInfos.java:57-117)

Scale design:
  - postings are shuffled ONCE by (term, doc-range split): the split key
    ``doc_id // SPLIT_RANGE`` statically salts skewed high-df terms
    (a df=10^11 stopword-adjacent term at 10^12-turn scale becomes 10^6
    bounded groups instead of one straggler reducer). Blocks are
    independent (each encodes its own first_doc), so term-splits concat
    without a merge pass.
  - bucket = hash(term) % n_buckets is written as a parquet partition
    column -> query-time partition pruning on term lookups (the FST .tip
    term index replaced by partition + row-group pruning).
  - per-bucket lineage in the manifest enables kill-and-resume: finished
    buckets are skipped on restart (UpdateLog-replay analogue,
    solr/core/.../update/UpdateLog.java:56-108).
  - per-block (``max_tf``, ``min_nb``) = max term frequency + the norm
    byte of the smallest quantized doc length in the block. The WAND
    bound max_tf/(max_tf + cache[min_nb]) is derived at QUERY time from
    the live collection stats (the modern-Lucene BMW shape: impacts in
    the index, bound under the current similarity) — so the write path
    needs no global avgdl pass and incremental appends never invalidate
    stored bounds.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.literals import sql_in
from ..search.bm25 import avg_field_length
from .norms import NORM_TABLE
from .builder import CollectionStats, InvertedIndex
from .codec import BLOCK_SIZE, decode_blocks, encode_term_blocks

SPLIT_RANGE = 1 << 20  # doc-range salt width for skewed terms

SEGMENT_SCHEMA = StructType(
    [
        StructField("bucket", IntegerType(), False),
        StructField("term", StringType(), False),
        StructField("num_docs", IntegerType(), False),
        StructField("first_doc", LongType(), False),
        StructField("last_doc", LongType(), False),
        StructField("max_tf", IntegerType(), False),
        StructField("min_nb", IntegerType(), False),
        StructField("sum_tf", LongType(), False),
        StructField("docs_bin", BinaryType(), False),
        StructField("tfs_bin", BinaryType(), False),
        StructField("norms_bin", BinaryType(), False),
        StructField("pos_bin", BinaryType(), True),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("tf", IntegerType(), False),
        StructField("positions", ArrayType(IntegerType(), False), True),
        StructField("norm_byte", IntegerType(), False),
    ]
)


def local_frame(
    spark: SparkSession, pdf: pd.DataFrame, schema: StructType
) -> DataFrame:
    """A driver-side pandas frame as a one-partition LocalTableScan.
    It goes through an Arrow table because pandas input of zero rows
    skips Arrow and would come back as an RDD scan. One partition: the
    frame is at most a bounded fetch, and every extra partition is one
    more task in each stage that reads it."""
    table = pa.Table.from_pandas(
        pdf, schema=to_arrow_schema(schema), preserve_index=False
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def _bucket_col(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _pack_run(
    term: str,
    bucket: int,
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    norms: np.ndarray,
    positions: list | None,
    rows: list,
) -> None:
    """Pack one (term, split) posting run (sorted by doc_id) into block
    rows, appended to ``rows``."""
    blocks = encode_term_blocks(doc_ids, tfs, norms, positions)
    s = 0
    for blk in blocks:
        e = s + blk["num_docs"]
        nbs = norms[s:e].astype(np.int64)
        # norm byte of the smallest quantized dl: minimizes the BM25
        # denominator addend under ANY avgdl (NORM_TABLE is the decoded
        # quantized dl; the cache is monotone in it)
        min_nb = int(nbs[np.argmin(NORM_TABLE[nbs])])
        rows.append(
            (
                bucket,
                term,
                blk["num_docs"],
                blk["first_doc"],
                blk["last_doc"],
                blk["max_tf"],
                min_nb,
                int(tfs[s:e].sum()),
                blk["docs_bin"],
                blk["tfs_bin"],
                blk["norms_bin"],
                blk["pos_bin"],
            )
        )
        s = e


def _pack_frame(pdf: pd.DataFrame, keep_positions: bool, rows: list) -> None:
    """Pack every (term, split) run of a sorted frame. Run boundaries are
    found once with numpy (the frame is sorted by term, split, doc_id) —
    no pandas groupby: its per-group sub-frame materialization costs
    ~100µs × one group per RARE term, which dominates at Zipfian
    vocabularies (most terms have df < block size)."""
    terms_arr = pdf["term"].to_numpy()
    splits_arr = pdf["split"].to_numpy()
    n = len(pdf)
    change = np.flatnonzero(
        (terms_arr[1:] != terms_arr[:-1]) | (splits_arr[1:] != splits_arr[:-1])
    ) + 1
    bounds = np.concatenate(([0], change, [n]))
    doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    tfs = pdf["tf"].to_numpy(dtype=np.int64)
    norms = pdf["norm_byte"].to_numpy(dtype=np.int64).astype(np.uint8)
    buckets = pdf["bucket"].to_numpy(dtype=np.int64)
    pos_arr = pdf["positions"].to_numpy() if keep_positions else None
    for i in range(len(bounds) - 1):
        s, e = int(bounds[i]), int(bounds[i + 1])
        positions = (
            [np.asarray(p, dtype=np.int64) for p in pos_arr[s:e]]
            if pos_arr is not None
            else None
        )
        _pack_run(
            terms_arr[s],
            int(buckets[s]),
            doc_ids[s:e],
            tfs[s:e],
            norms[s:e],
            positions,
            rows,
        )


_PACKED_COLS = [
    "bucket", "term", "num_docs", "first_doc", "last_doc", "max_tf",
    "min_nb", "sum_tf", "docs_bin", "tfs_bin", "norms_bin", "pos_bin",
]


def _rows_frame(rows: list) -> pd.DataFrame:
    out = pd.DataFrame(rows, columns=_PACKED_COLS)
    out["bucket"] = out["bucket"].astype("int32")
    out["num_docs"] = out["num_docs"].astype("int32")
    out["max_tf"] = out["max_tf"].astype("int32")
    out["min_nb"] = out["min_nb"].astype("int32")
    out["sum_tf"] = out["sum_tf"].astype("int64")
    return out


def _pack_stream(keep_positions: bool):
    """mapInPandas packer over a partition hash-partitioned by
    (term, split) and sorted by (term, split, doc_id).

    Replaces a per-group applyInPandas (one Spark group per (term, split)
    — ruinous overhead at 10^4-10^8 tiny groups) with a streaming run
    packer: thousands of groups per Arrow batch, one Python call each.
    Groups can span Arrow batch boundaries, so the trailing incomplete
    (term, split) run is carried into the next batch."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            # trailing run of the last (term, split) may continue in the
            # next batch — hold it back
            last_t = pdf["term"].iloc[-1]
            last_s = pdf["split"].iloc[-1]
            tail_mask = (
                (pdf["term"].to_numpy() == last_t)
                & (pdf["split"].to_numpy() == last_s)
            )
            # count the contiguous trailing True run
            flipped = tail_mask[::-1]
            n_tail = int(np.argmin(flipped)) if not flipped.all() else n
            head = pdf.iloc[: n - n_tail]
            carry = pdf.iloc[n - n_tail :]
            if len(head):
                rows: list = []
                _pack_frame(head, keep_positions, rows)
                yield _rows_frame(rows)
        if carry is not None and len(carry):
            rows = []
            _pack_frame(carry, keep_positions, rows)
            yield _rows_frame(rows)

    return run


FLUSH_POSTINGS = 2_000_000  # map-side flush threshold (16MB-RAM analogue)


def _invert_flush_partitions(split_range: int, keep_positions: bool):
    """Map-side DWPT: tokenize docs and FLUSH per-partition partial
    posting runs (one binary row per (term, split) seen in the flush)
    instead of per-(doc,term) rows. The shuffle then moves ~30x fewer
    rows, all binary — no per-posting Python objects cross Arrow.

    Mirrors the reference's flush-by-RAM
    (lucene/core/.../index/FlushByRamOrCountsPolicy.java; 16MB default
    IndexWriterConfig.java:84-90): accumulate ~FLUSH_POSTINGS tokens,
    then sort by (term, doc) and emit runs, like
    FreqProxTermsWriter.flush (:41-104) iterating terms in sorted order.

    The whole path is FLAT-array vectorized end to end: tokenize_flat
    emits token-level numpy arrays (no per-doc Python), ONE lexsort
    orders them (term, doc, pos), and the only Python loop is per
    (term, split) RUN (~vocabulary-sized) — per-doc position lists are
    never materialized, so flush cost is independent of doc count at
    fixed token count. This is the hot kernel behind the north-rule
    scaling numbers.
    """
    from ..analysis.tokenizer import tokenize_flat
    from .norms import encode_norm
    from .codec import encode_run

    def flush(parts: list[dict]) -> pd.DataFrame:
        from .codec import varint_encode, varint_value_starts

        if len(parts) > 1:
            doc = np.concatenate([p["doc"] for p in parts])
            term = np.concatenate([p["term"] for p in parts])
            pos = np.concatenate([p["pos"] for p in parts])
            nb = np.concatenate([p["nb"] for p in parts])
        else:
            p0 = parts[0]
            doc, term, pos, nb = p0["doc"], p0["term"], p0["pos"], p0["nb"]
        codes, uniques = pd.factorize(term, sort=False)
        # split = doc // split_range is monotone in doc, so sorting by
        # (code, doc, pos) makes every (term, split) run contiguous
        order = np.lexsort((pos, doc, codes))
        doc, pos, nb, codes = (
            doc[order], pos[order], nb[order], codes[order]
        )
        splits = doc // split_range
        n = len(doc)
        # token-level run boundaries on (code, split)
        run_change = np.flatnonzero(
            (codes[1:] != codes[:-1]) | (splits[1:] != splits[:-1])
        ) + 1
        run_bounds = np.concatenate(([0], run_change, [n]))
        # token-level doc boundaries (within runs; a doc never spans runs)
        doc_change = np.flatnonzero(
            (codes[1:] != codes[:-1]) | (doc[1:] != doc[:-1])
        ) + 1
        doc_starts = np.concatenate(([0], doc_change))
        doc_ends = np.concatenate((doc_change, [n]))
        tf_all = doc_ends - doc_starts  # per (doc, term) occurrence count
        # doc-group-level arrays
        dg_doc = doc[doc_starts]
        dg_nb = nb[doc_starts]
        n_dg = len(dg_doc)
        # run boundaries in doc-group index space (runs align with
        # doc-group boundaries by construction)
        run_dg = np.searchsorted(doc_starts, run_bounds)
        # BATCH ENCODE: varint streams concatenate, so ALL runs' gaps /
        # tf / position deltas are encoded in ONE vectorized call each
        # and sliced per run by value byte offsets — the Python loop
        # below only slices bytes and assembles tuples (~2 us/run).
        gaps = np.empty(n_dg, dtype=np.uint64)
        if n_dg:
            gaps[1:] = (dg_doc[1:] - dg_doc[:-1]).astype(np.uint64)
        gaps[run_dg[:-1]] = 0
        docs_stream = varint_encode(gaps)
        d_off = np.append(
            varint_value_starts(docs_stream), len(docs_stream)
        )
        tfs_stream = varint_encode((tf_all - 1).astype(np.uint64))
        t_off = np.append(
            varint_value_starts(tfs_stream), len(tfs_stream)
        )
        norms_stream = dg_nb.astype(np.uint8).tobytes()
        if keep_positions:
            deltas = np.empty(n, dtype=np.int64)
            if n:
                deltas[1:] = pos[1:] - pos[:-1]
            deltas[doc_starts] = pos[doc_starts]  # absolute per doc
            pos_stream = varint_encode(deltas.astype(np.uint64))
            p_off = np.append(
                varint_value_starts(pos_stream), len(pos_stream)
            )
        # per-run metadata, vectorized
        rs = run_dg[:-1]
        first_doc = dg_doc[rs]
        last_doc = dg_doc[run_dg[1:] - 1]
        max_tf = np.maximum.reduceat(tf_all, rs)
        sum_tf = np.add.reduceat(tf_all, rs)
        min_nb = np.minimum.reduceat(dg_nb.astype(np.int64), rs)
        num_docs = np.diff(run_dg)
        terms_out = np.asarray(uniques, dtype=object)[
            codes[run_bounds[:-1]]
        ]
        rows = []
        for i in range(len(rs)):
            ds, de = int(run_dg[i]), int(run_dg[i + 1])
            if keep_positions:
                ts, te = int(run_bounds[i]), int(run_bounds[i + 1])
                pos_bin = pos_stream[int(p_off[ts]) : int(p_off[te])]
            else:
                pos_bin = None
            rows.append(
                (
                    -1,  # bucket assigned by a Catalyst column afterwards
                    terms_out[i],
                    int(num_docs[i]),
                    int(first_doc[i]),
                    int(last_doc[i]),
                    int(max_tf[i]),
                    int(min_nb[i]),  # placeholder; final min_nb on merge
                    int(sum_tf[i]),
                    docs_stream[int(d_off[ds]) : int(d_off[de])],
                    tfs_stream[int(t_off[ds]) : int(t_off[de])],
                    norms_stream[ds:de],
                    pos_bin,
                )
            )
        return _rows_frame(rows)

    def run_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accum: list = []
        n_accum = 0
        for pdf in batches:
            fl = tokenize_flat(pdf["text"])
            if len(fl["row"]):
                docid_arr = pdf["doc_id"].to_numpy(dtype=np.int64)
                nb_per_row = encode_norm(fl["dl"])
                accum.append(
                    {
                        "doc": docid_arr[fl["row"]],
                        "term": fl["term"],
                        "pos": fl["pos"],
                        "nb": nb_per_row[fl["row"]].astype(np.uint8),
                    }
                )
                n_accum += len(fl["row"])
            if n_accum >= FLUSH_POSTINGS:
                yield flush(accum)
                accum, n_accum = [], 0
        if accum:
            yield flush(accum)

    return run_udf


# rank of each norm byte's decoded quantized dl (ties by byte value):
# min-rank within a block gives the byte that minimizes the BM25
# denominator addend under ANY avgdl (same argument as _pack_run)
_NB_RANK = np.argsort(np.argsort(NORM_TABLE, kind="stable"), kind="stable")
_BYTE_OF_RANK = np.argsort(_NB_RANK, kind="stable")


def _merge_partials_stream(
    split_range: int, keep_positions: bool, stats_dir: str | None = None
):
    """Reducer: rows hash-partitioned by (term, split) and sorted by
    (term, first_doc) — each (term, split) group's partial runs are
    contiguous. BATCH re-block (SegmentMerger.mergeTerms analogue):
    at Zipfian vocabularies most groups hold a handful of docs, so a
    per-group numpy loop pays ~350 us of call overhead per TERM; here
    the whole Arrow frame is decoded with ONE varint_decode per stream,
    doc-sorted with ONE global in-group lexsort (only when map-task doc
    ranges interleaved), and re-encoded with ONE varint_encode per
    stream, sliced per block by value byte offsets. Positions are
    byte-sliced per doc, never decoded (each doc's sub-stream starts
    with an absolute position — encode_run).

    ``stats_dir``: when set, each reduce task ALSO writes its partial
    (bucket, term, df, ttf) aggregate as a tiny parquet side file —
    the Lucene shape, where the terms dict is written during segment
    flush (lucene/core/.../index/FreqProxTermsWriter.java flush), not
    by a post-pass re-reading the postings. The write is idempotent
    under task retry/speculation: the task's input partition is
    deterministic, the part is keyed by partitionId only, and it lands
    via tmp-file + atomic rename (last writer wins with identical
    bytes). Requires ``stats_dir`` on storage every executor can reach
    — the same contract the manifest/doc-store paths already assume."""
    from .codec import varint_decode, varint_encode, varint_value_starts

    def pack_frame(
        pdf: pd.DataFrame, rows: list, stats_acc: list | None = None
    ) -> None:
        terms_arr = pdf["term"].to_numpy()
        first_doc = pdf["first_doc"].to_numpy(dtype=np.int64)
        splits_arr = first_doc // split_range
        num_docs = pdf["num_docs"].to_numpy(dtype=np.int64)
        buckets = pdf["bucket"].to_numpy(dtype=np.int64)
        npart = len(pdf)
        change = np.flatnonzero(
            (terms_arr[1:] != terms_arr[:-1])
            | (splits_arr[1:] != splits_arr[:-1])
        ) + 1
        p_bounds = np.concatenate(([0], change, [npart]))

        # ---- decode every partial in one shot ----
        docs_cat = b"".join(pdf["docs_bin"])
        tfs_cat = b"".join(pdf["tfs_bin"])
        norms_cat = b"".join(pdf["norms_bin"])
        total = int(num_docs.sum())
        gaps = varint_decode(docs_cat, total).astype(np.int64)
        tfs = varint_decode(tfs_cat, total).astype(np.int64) + 1
        norms = np.frombuffer(norms_cat, dtype=np.uint8)
        pd_starts = np.zeros(npart, dtype=np.int64)
        np.cumsum(num_docs[:-1], out=pd_starts[1:])
        pidx = np.repeat(np.arange(npart), num_docs)
        g = np.cumsum(gaps)
        docs = first_doc[pidx] + (g - g[pd_starts][pidx])

        # group bounds in doc space
        g_start_doc = pd_starts[p_bounds[:-1]]
        g_bounds_doc = np.append(g_start_doc, total)
        ngroups = len(g_start_doc)
        grp_of_doc = np.repeat(
            np.arange(ngroups), np.diff(g_bounds_doc)
        )

        if keep_positions:
            pos_cat = b"".join(x or b"" for x in pdf["pos_bin"])
            tok_off = np.append(
                varint_value_starts(pos_cat), len(pos_cat)
            )
            tf_cum = np.zeros(total + 1, dtype=np.int64)
            np.cumsum(tfs, out=tf_cum[1:])
            # per-doc position byte spans (relocatable)
            span_lo = tok_off[tf_cum[:-1]]
            span_hi = tok_off[tf_cum[1:]]

        # ---- repair interleaved map-task doc ranges (one lexsort) ----
        inner = np.ones(total, dtype=bool)
        inner[g_start_doc] = False  # group-start positions excluded
        needs_sort = bool(
            total > 1 and np.any((np.diff(docs) <= 0) & inner[1:])
        )
        if needs_sort:
            order = np.lexsort((docs, grp_of_doc))
            docs = docs[order]
            tfs = tfs[order]
            norms = norms[order]
            if keep_positions:
                span_lo = span_lo[order]
                span_hi = span_hi[order]

        # ---- re-block: every group cut into BLOCK_SIZE blocks ----
        glen = np.diff(g_bounds_doc)
        if stats_acc is not None:
            # per-(term,split) group df/ttf — summed per task below, so
            # terms_stats needs no post-pass over the postings store
            stats_acc.append(
                pd.DataFrame(
                    {
                        "bucket": buckets[p_bounds[:-1]],
                        "term": terms_arr[p_bounds[:-1]],
                        "df": glen,
                        "ttf": np.add.reduceat(tfs, g_start_doc),
                    }
                )
            )
        nb_per_group = (glen + BLOCK_SIZE - 1) // BLOCK_SIZE
        nblocks = int(nb_per_group.sum())
        block_group = np.repeat(np.arange(ngroups), nb_per_group)
        nb_excl = np.zeros(ngroups, dtype=np.int64)
        np.cumsum(nb_per_group[:-1], out=nb_excl[1:])
        within = np.arange(nblocks) - nb_excl[block_group]
        b_start = g_start_doc[block_group] + within * BLOCK_SIZE
        b_end = np.minimum(
            b_start + BLOCK_SIZE, g_bounds_doc[1:][block_group]
        )

        # ---- encode all blocks' streams in one call each ----
        new_gaps = np.empty(total, dtype=np.int64)
        if total > 1:
            new_gaps[1:] = docs[1:] - docs[:-1]
        new_gaps[b_start] = 0
        docs_stream = varint_encode(new_gaps.astype(np.uint64))
        d_off = np.append(
            varint_value_starts(docs_stream), len(docs_stream)
        )
        tfs_stream = varint_encode((tfs - 1).astype(np.uint64))
        t_off = np.append(
            varint_value_starts(tfs_stream), len(tfs_stream)
        )
        norms_stream = norms.tobytes()

        # ---- per-block metadata, vectorized ----
        first_b = docs[b_start]
        last_b = docs[b_end - 1]
        max_tf = np.maximum.reduceat(tfs, b_start)
        sum_tf = np.add.reduceat(tfs, b_start)
        min_rank = np.minimum.reduceat(
            _NB_RANK[norms.astype(np.int64)], b_start
        )
        min_nb = _BYTE_OF_RANK[min_rank]
        term_b = terms_arr[p_bounds[:-1]][block_group]
        bucket_b = buckets[p_bounds[:-1]][block_group]
        ndocs_b = b_end - b_start

        if keep_positions and needs_sort:
            # positions must follow the doc permutation: rebuild the
            # buffer from permuted per-doc spans (Python slicing loop,
            # only on interleaved frames)
            pos_cat = b"".join(
                pos_cat[int(a) : int(b)]
                for a, b in zip(span_lo, span_hi)
            )
            lens = span_hi - span_lo
            span_lo = np.zeros(total, dtype=np.int64)
            np.cumsum(lens[:-1], out=span_lo[1:])
            span_hi = span_lo + lens

        for i in range(nblocks):
            ds, de = int(b_start[i]), int(b_end[i])
            pos_bin = None
            if keep_positions:
                pos_bin = pos_cat[
                    int(span_lo[ds]) : int(span_hi[de - 1])
                ]
            rows.append(
                (
                    int(bucket_b[i]),
                    term_b[i],
                    int(ndocs_b[i]),
                    int(first_b[i]),
                    int(last_b[i]),
                    int(max_tf[i]),
                    int(min_nb[i]),
                    int(sum_tf[i]),
                    docs_stream[int(d_off[ds]) : int(d_off[de])],
                    tfs_stream[int(t_off[ds]) : int(t_off[de])],
                    norms_stream[ds:de],
                    pos_bin,
                )
            )

    def _flush_stats(stats_acc: list) -> None:
        """Write this task's (bucket, term, df, ttf) partial aggregate
        as one tiny parquet side file (tmp + atomic rename; content is
        canonical-sorted so retries produce identical bytes)."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else 0
        if stats_acc:
            sdf = (
                pd.concat(stats_acc, ignore_index=True)
                .groupby(["bucket", "term"], as_index=False)
                .sum()
                .sort_values(["bucket", "term"], ignore_index=True)
            )
        else:
            sdf = pd.DataFrame(
                {
                    "bucket": pd.Series([], dtype="int64"),
                    "term": pd.Series([], dtype="object"),
                    "df": pd.Series([], dtype="int64"),
                    "ttf": pd.Series([], dtype="int64"),
                }
            )
        # explicit schema: an empty object Series would otherwise be
        # inferred as a `term: null` parquet column, which conflicts
        # with populated parts' `term: string` at read time and crashes
        # the multi-part stats read on any empty reduce partition
        stats_schema = pa.schema(
            [
                ("bucket", pa.int64()),
                ("term", pa.string()),
                ("df", pa.int64()),
                ("ttf", pa.int64()),
            ]
        )
        os.makedirs(stats_dir, exist_ok=True)
        tmp = os.path.join(
            stats_dir, f".part-{pid:05d}-{os.getpid()}.tmp"
        )
        pq.write_table(
            pa.Table.from_pandas(
                sdf, schema=stats_schema, preserve_index=False
            ),
            tmp,
        )
        os.replace(tmp, os.path.join(stats_dir, f"part-{pid:05d}.parquet"))

    def run_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        stats_acc: list | None = [] if stats_dir is not None else None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            last_t = pdf["term"].iloc[-1]
            last_s = int(pdf["first_doc"].iloc[-1]) // split_range
            tail_mask = (
                (pdf["term"].to_numpy() == last_t)
                & (
                    pdf["first_doc"].to_numpy(dtype=np.int64) // split_range
                    == last_s
                )
            )
            flipped = tail_mask[::-1]
            n_tail = int(np.argmin(flipped)) if not flipped.all() else n
            head = pdf.iloc[: n - n_tail]
            carry = pdf.iloc[n - n_tail :]
            if len(head):
                rows: list = []
                pack_frame(head, rows, stats_acc)
                yield _rows_frame(rows)
        if carry is not None and len(carry):
            rows = []
            pack_frame(carry, rows, stats_acc)
            yield _rows_frame(rows)
        if stats_acc is not None:
            _flush_stats(stats_acc)

    return run_udf


def write_segments(
    index: InvertedIndex,
    index_dir: str,
    n_buckets: int = 16,
    keep_positions: bool = True,
    resume: bool = True,
    split_range: int = SPLIT_RANGE,
) -> "SegmentIndex":
    """Persist ``index`` as a segment store. With ``resume=True``, buckets
    already recorded in the manifest are skipped (kill-and-resume)."""
    os.makedirs(index_dir, exist_ok=True)
    spark = index.spark
    manifest = read_manifest(index_dir)
    done: set[int] = set(manifest["buckets"]) if manifest else set()
    avgdl = avg_field_length(
        index.stats.sum_total_term_freq, index.stats.max_doc
    )

    if manifest is None:
        # doc store + stats written once up front (cheap vs postings)
        index.docs.write.mode("overwrite").parquet(f"{index_dir}/docs")
        (
            index.terms_stats.withColumn(
                "bucket", _bucket_col(F.col("term"), n_buckets)
            )
            .write.mode("overwrite")
            .parquet(f"{index_dir}/terms_stats")
        )
        manifest = {
            "generation": 0,
            "n_buckets": n_buckets,
            "block_size": BLOCK_SIZE,
            "split_range": split_range,
            "keep_positions": keep_positions,
            "max_doc": index.stats.max_doc,
            "sum_total_term_freq": index.stats.sum_total_term_freq,
            "avgdl": float(avgdl),
            "buckets": {},
        }
    else:
        n_buckets = manifest["n_buckets"]
        keep_positions = manifest["keep_positions"]
        split_range = manifest.get("split_range", SPLIT_RANGE)

    todo = [b for b in range(n_buckets) if b not in done and str(b) not in done]
    if todo:
        # A crash may have left partial partition dirs for unfinished
        # buckets (data files without a manifest entry) — remove them so
        # the rebuild is idempotent, like UpdateLog replay discarding
        # uncommitted tlog tail.
        import shutil

        for b in todo:
            part_dir = f"{index_dir}/postings/bucket={b}"
            if os.path.isdir(part_dir):
                shutil.rmtree(part_dir)
        flat = index.postings.withColumn(
            "bucket", _bucket_col(F.col("term"), n_buckets)
        )
        if len(todo) < n_buckets:
            flat = flat.where(F.col("bucket").isin(todo))
        flat = flat.withColumn(
            "split", (F.col("doc_id") / F.lit(split_range)).cast("long")
        )
        # ONE full-width shuffle keyed by (term, split): the doc-range
        # split both salts skewed high-df terms across reducers AND keeps
        # every reducer's task count = spark.sql.shuffle.partitions (the
        # old per-bucket repartition capped parallelism at n_buckets).
        shuffled = flat.repartition("term", "split").sortWithinPartitions(
            "term", "split", "doc_id"
        )
        packed = shuffled.mapInPandas(
            _pack_stream(keep_positions), SEGMENT_SCHEMA
        )
        # per-bucket block counts observed DURING the write job — no
        # second read-back pass over the store
        from pyspark.sql import Observation

        obs = Observation()
        packed = packed.observe(
            obs,
            *[
                F.sum(
                    F.when(F.col("bucket") == b, 1).otherwise(0)
                ).alias(f"b{b}")
                for b in todo
            ],
        )
        (
            packed.write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/postings")
        )
        observed = obs.get
        for b in todo:
            manifest["buckets"][str(b)] = {
                "blocks": int(observed.get(f"b{b}") or 0),
                "committed_at_gen": manifest["generation"] + 1,
            }
    manifest["generation"] += 1
    commit_manifest(index_dir, manifest)
    return SegmentIndex.open(spark, index_dir)


def build_segment_store(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    n_buckets: int = 16,
    keep_positions: bool = True,
    split_range: int | None = None,
    text_col: str = "text",
    order_cols: list[str] | None = None,
) -> "SegmentIndex":
    """End-to-end segment build with a SINGLE tokenize pass.

    Contrast with build_index + write_segments (3 inversion passes:
    stats agg, terms_stats write, pack): here the numbered doc store is
    materialized first, the pack pass is the only inversion, and both
    terms_stats and the collection stats are derived afterwards from
    block METADATA only (df = Σ num_docs, ttf = Σ sum_tf per term —
    parquet column pruning never touches the binary block columns).
    This is the Lucene shape too: stats live in the segment files, not
    in a separate corpus pass (SegmentInfos / TermContext accumulation).

    Resume-safe at bucket granularity like write_segments: stats are
    recomputed from the on-disk blocks, so they cover buckets committed
    by a previous crashed run."""
    import time as _time

    phases: dict[str, float] = {}

    def _mark(name: str, t0: float) -> float:
        phases[name] = round(_time.perf_counter() - t0, 3)
        return _time.perf_counter()

    _t = _time.perf_counter()
    os.makedirs(index_dir, exist_ok=True)
    manifest = read_manifest(index_dir)
    if manifest is None:
        if "doc_id" not in docs.columns:
            from .docids import assign_doc_ids

            docs = assign_doc_ids(
                docs, order_cols or ["conv_id", "turn_idx"]
            )
        _t = _mark("plan_docids", _t)
        docs.write.mode("overwrite").parquet(f"{index_dir}/docs")
        _t = _mark("docs_write", _t)
        manifest = {
            "generation": 0,
            "n_buckets": n_buckets,
            "block_size": BLOCK_SIZE,
            "split_range": split_range,
            "keep_positions": keep_positions,
            "max_doc": 0,  # filled from the doc store below
            "sum_total_term_freq": 0,  # filled from block metadata below
            "avgdl": 0.0,
            "buckets": {},
        }
    else:
        n_buckets = manifest["n_buckets"]
        keep_positions = manifest["keep_positions"]
        split_range = manifest.get("split_range", SPLIT_RANGE)
    stored = spark.read.parquet(f"{index_dir}/docs")
    n_docs = stored.count()  # parquet footer count — metadata-only

    if split_range is None:
        # Doc-range salt for the pack shuffle. With map-side flush the
        # shuffle rows are binary partial RUNS (not per-posting rows), so
        # a Zipf-head term's whole group is a cheap vectorized merge —
        # the salt only has to bound group size in memory, hence the
        # coarse default (2^20 docs ≈ one group few MB even at tf-heavy
        # fields). Salt granularity is therefore independent of
        # parallelism, and rare-term blocks never fragment.
        split_range = SPLIT_RANGE
        manifest["split_range"] = split_range

    done: set[str] = set(manifest["buckets"])
    todo = [b for b in range(n_buckets) if str(b) not in done]
    # Fresh full build: reduce tasks side-write their partial term stats
    # (see _merge_partials_stream) so terms_stats derives from a tiny
    # parts scan instead of a post-pass over the whole postings store.
    # A resumed build mixes generations in the parts dir, so it falls
    # back to the metadata read-back (which covers resumed buckets).
    full_build = len(todo) == n_buckets
    stats_dir = f"{index_dir}/_term_stats_parts"
    stats_from_parts = False
    sum_ttf: int | None = None
    if todo:
        import shutil

        for b in todo:
            part_dir = f"{index_dir}/postings/bucket={b}"
            if os.path.isdir(part_dir):
                shutil.rmtree(part_dir)
        if os.path.isdir(stats_dir):
            shutil.rmtree(stats_dir)
        src_df = stored.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col(text_col).cast("string").alias("text"),
        )
        # map-side DWPT flush: per-partition partial posting runs (binary,
        # one row per (term, split) per flush) -> ~30x fewer, object-free
        # shuffle rows vs per-(doc,term) postings
        partials = src_df.mapInPandas(
            _invert_flush_partitions(split_range, keep_positions),
            SEGMENT_SCHEMA,
        ).withColumn("bucket", _bucket_col(F.col("term"), n_buckets))
        if len(todo) < n_buckets:
            partials = partials.where(F.col("bucket").isin(todo))
        split_expr = (
            F.col("first_doc") / F.lit(split_range)
        ).cast("long")
        shuffled = partials.repartition(
            split_expr, F.col("term")
        ).sortWithinPartitions("term", "first_doc")
        packed = shuffled.mapInPandas(
            _merge_partials_stream(
                split_range,
                keep_positions,
                stats_dir=stats_dir if full_build else None,
            ),
            SEGMENT_SCHEMA,
        )
        from pyspark.sql import Observation

        obs = Observation()
        packed = packed.observe(
            obs,
            F.sum("num_docs").alias("nd_total"),
            F.sum("sum_tf").alias("tf_total"),
            *[
                F.sum(
                    F.when(F.col("bucket") == b, 1).otherwise(0)
                ).alias(f"b{b}")
                for b in todo
            ],
        )
        (
            packed.write.mode("append")
            .partitionBy("bucket")
            .parquet(f"{index_dir}/postings")
        )
        observed = obs.get
        for b in todo:
            manifest["buckets"][str(b)] = {
                "blocks": int(observed.get(f"b{b}") or 0),
                "committed_at_gen": manifest["generation"] + 1,
            }
        _t = _mark("pack_write", _t)

        if full_build and os.path.isdir(stats_dir):
            # validate the side parts against totals observed during
            # the SAME write job; any mismatch (lost part file) falls
            # back to the read-back path
            parts = spark.read.parquet(stats_dir)
            agg = parts.agg(
                F.sum("df").alias("df"), F.sum("ttf").alias("ttf")
            ).collect()[0]
            if int(agg["df"] or 0) == int(
                observed.get("nd_total") or 0
            ) and int(agg["ttf"] or 0) == int(
                observed.get("tf_total") or 0
            ):
                (
                    parts.groupBy("term", "bucket")
                    .agg(
                        F.sum("df").alias("df"),
                        F.sum("ttf").alias("ttf"),
                    )
                    .select(
                        "term",
                        "df",
                        "ttf",
                        F.col("bucket").cast("int").alias("bucket"),
                    )
                    .write.mode("overwrite")
                    .parquet(f"{index_dir}/terms_stats")
                )
                sum_ttf = int(observed.get("tf_total") or 0)
                stats_from_parts = True
        # the parts only feed terms_stats: valid or not, they are dead
        # bytes once it is written
        shutil.rmtree(stats_dir, ignore_errors=True)

    if not stats_from_parts:
        # stats + terms_stats from block metadata (covers resumed buckets)
        blocks_meta = spark.read.parquet(f"{index_dir}/postings").select(
            "bucket", "term", "num_docs", "sum_tf"
        )
        (
            blocks_meta.groupBy("term", "bucket")
            .agg(
                F.sum("num_docs").alias("df"),
                F.sum("sum_tf").alias("ttf"),
            )
            .select("term", "df", "ttf", "bucket")
            .write.mode("overwrite")
            .parquet(f"{index_dir}/terms_stats")
        )
    _t = _mark("terms_stats", _t)
    if sum_ttf is None:
        ts = spark.read.parquet(f"{index_dir}/terms_stats")
        sum_ttf = int(ts.agg(F.sum("ttf")).collect()[0][0] or 0)
    max_doc = n_docs
    _t = _mark("stats", _t)
    manifest["max_doc"] = int(max_doc)
    manifest["sum_total_term_freq"] = sum_ttf
    manifest["avgdl"] = float(
        avg_field_length(sum_ttf, max_doc)
    )
    manifest["generation"] += 1
    # which path wrote terms_stats: the reduce tasks' validated side
    # parts, or the read-back of the block metadata
    manifest["terms_stats_from"] = (
        "side_parts" if stats_from_parts else "block_metadata"
    )
    manifest["build_phase_sec"] = phases  # north-rule metrics: per-phase
    commit_manifest(index_dir, manifest)
    if os.environ.get("LSS_BUILD_TIMINGS"):
        print("BUILD_PHASES", json.dumps(phases))
    return SegmentIndex.open(spark, index_dir)


def commit_manifest(index_dir: str, manifest: dict) -> None:
    """Two-phase commit: write segments_<gen>.json.tmp, fsync, rename
    (prepareCommit/finishCommit analogue, SegmentInfos.java:57-117)."""
    gen = manifest["generation"]
    tmp = f"{index_dir}/segments_{gen}.json.tmp"
    final = f"{index_dir}/segments_{gen}.json"
    manifest = dict(manifest)
    manifest["committed_unix"] = int(time.time())
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, final)


def read_manifest(
    index_dir: str, generation: int | None = None
) -> dict | None:
    """Committed manifest — the latest generation (highest segments_N,
    SegmentInfos.getLastCommitGeneration) or, with ``generation``, a
    SPECIFIC retained commit point (IndexCommit / the
    KeepOnlyLastCommit-vs-keep-all IndexDeletionPolicy axis,
    lucene/core/.../index/IndexDeletionPolicy.java +
    DirectoryReader.open(IndexCommit)); raises FileNotFoundError when
    that generation was never committed."""
    if not os.path.isdir(index_dir):
        return None
    if generation is not None:
        path = f"{index_dir}/segments_{int(generation)}.json"
        if not os.path.isfile(path):
            raise FileNotFoundError(
                f"no commit point segments_{generation} under {index_dir}"
            )
        with open(path) as f:
            return json.load(f)
    gens = []
    for name in os.listdir(index_dir):
        if name.startswith("segments_") and name.endswith(".json"):
            gens.append(int(name[len("segments_"):-len(".json")]))
    if not gens:
        return None
    with open(f"{index_dir}/segments_{max(gens)}.json") as f:
        return json.load(f)


def _empty_decoded() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "term": pd.Series([], dtype="object"),
            "doc_id": pd.Series([], dtype="int64"),
            "tf": pd.Series([], dtype="int32"),
            "positions": pd.Series([], dtype="object"),
            "norm_byte": pd.Series([], dtype="int32"),
        }
    )


# the block columns a decode reads (codec.decode_blocks)
_DECODE_COLUMNS = ["term", "first_doc", "num_docs", "docs_bin", "tfs_bin",
                   "norms_bin"]


def _decode_partitions(want_positions: bool):
    """mapInPandas body: each batch of block rows decoded at once by
    codec.decode_blocks."""
    cols = _DECODE_COLUMNS + (["pos_bin"] if want_positions else [])
    schema = to_arrow_schema(SEGMENT_SCHEMA)
    schema = pa.schema([schema.field(c) for c in cols])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_blocks(
                pa.Table.from_pandas(
                    pdf[cols], schema=schema, preserve_index=False
                ),
                want_positions,
            )

    return decode


class DriverParquet:
    """Driver-side reads of the parquet files under ``root``, for a
    bounded postings fetch that should start no Spark job (Lucene's
    TermWeight.scorer seeks the term and reads its postings, with no
    scheduler between).

    An index view (a store generation, a near-real-time reader) is
    immutable, so each subdirectory's file listing and footers are read
    on its first fetch and kept for the view's life: a warm query opens
    no footer. The footers' ``term`` statistics prune row groups as the
    scan's pushed term filter does, and their column-chunk sizes price a
    read before it is made."""

    def __init__(self, root: str):
        self.root = root
        self._footers: "dict[str, list[tuple[str, pq.FileMetaData]]]" = {}

    def footers(self, sub: str) -> "list[tuple[str, pq.FileMetaData]]":
        """(path, footer) of each data file in ``root/sub``, in name
        order; none when the directory does not exist. Hidden files
        (``_SUCCESS``, ``.crc``) are skipped as Spark's reader skips
        them."""
        got = self._footers.get(sub)
        if got is None:
            d = os.path.join(self.root, sub)
            names = sorted(os.listdir(d)) if os.path.isdir(d) else []
            got = [
                (path, pq.read_metadata(path))
                for path in (
                    os.path.join(d, n)
                    for n in names
                    if not n.startswith(("_", "."))
                )
            ]
            self._footers[sub] = got
        return got

    def row_groups(
        self, subs: list[str], terms: list[str], columns: list[str]
    ) -> "tuple[list[tuple[str, pq.FileMetaData, list[int]]], int]":
        """The row groups under ``subs`` whose ``term`` min/max admit
        one of ``terms`` (all of them when a footer has no statistics),
        as [(path, footer, row group ids)], and the compressed bytes of
        ``columns`` in them: what ``read`` would touch."""
        picked, nbytes = [], 0
        for sub in subs:
            for path, meta in self.footers(sub):
                rgs = []
                for i in range(meta.num_row_groups):
                    rg = meta.row_group(i)
                    chunks = [rg.column(j) for j in range(rg.num_columns)]
                    top = [c.path_in_schema.split(".")[0] for c in chunks]
                    st = chunks[top.index("term")].statistics
                    if st is not None and st.has_min_max and not any(
                        st.min <= t <= st.max for t in terms
                    ):
                        continue
                    rgs.append(i)
                    nbytes += sum(
                        c.total_compressed_size
                        for c, name in zip(chunks, top)
                        if name in columns
                    )
                if rgs:
                    picked.append((path, meta, rgs))
        return picked, nbytes

    def read(
        self,
        subs: list[str],
        terms: list[str],
        columns: list[str],
        max_bytes: float,
    ) -> "pa.Table | None":
        """``columns`` (``term`` among them) of the rows of ``terms``
        under ``subs``, read from the row groups that row_groups picks,
        or None when those hold more than ``max_bytes`` compressed
        bytes of ``columns``."""
        picked, nbytes = self.row_groups(subs, terms, columns)
        if nbytes > max_bytes:
            return None
        if not picked:
            return pa.table({c: [] for c in columns})
        table = pa.concat_tables(
            pq.ParquetFile(path, metadata=meta).read_row_groups(
                rgs, columns=columns
            )
            for path, meta, rgs in picked
        )
        return table.filter(
            pc.is_in(table["term"], value_set=pa.array(terms, pa.string()))
        )


SPLIT_META_COLUMNS = ["term", "split", "max_tf", "min_nb", "nd", "sum_tf"]


class SplitIndex:
    """The split read protocol: an index whose postings fall into
    doc-range splits and carry per-(term, split) metadata, which the
    WAND router (search/wand.py) and the driver-decode bound read before
    any postings are fetched. SegmentIndex is one, with splits of
    ``split_range`` docs over its block store; the near-real-time reader
    (streaming/incremental.py) is another, a one-split index over flat
    postings. Searcher routes every SplitIndex.

    Shared here: the per-term memo of split_meta, the term statistics
    summed from it, and where a postings fetch decodes: a bounded fetch
    is read from the index's parquet files on the driver and starts no
    Spark job, any other stays a lazy Spark plan. A subclass sets
    ``_split_meta_cache = {}`` and supplies ``n_splits``,
    ``keep_positions`` and three fetches:
      - ``_split_meta_rows(terms)``: the split_meta rows of ``terms``
        (pandas), called for terms not memoized yet;
      - ``_pull_postings(terms, want_positions, splits)``: a fetch known
        to be within the posting bound, read on the driver with pyarrow
        (DriverParquet) as a DECODED_SCHEMA pandas frame, or None when
        the bytes it would read exceed ``wand.overhead_eq_bytes()``;
      - ``_scan_postings(terms, want_positions, splits)``: any fetch, as a
        lazy DECODED_SCHEMA DataFrame."""

    _SPLIT_META_CACHE_MAX = 4096  # terms; FIFO evict past this
    # Optional per-split term blooms (index/bloom.py, the
    # BloomFilteringPostingsFormat analogue). None until a segment store
    # attaches one; postings_for_terms then intersects its split pruning
    # with the bloom's maybe-set.
    blooms = None

    def split_meta(self, terms: list[str]) -> "pd.DataFrame":
        """Per-(term, split) metadata for the WAND bound pass and the
        term statistics: columns SPLIT_META_COLUMNS (term, split,
        max_tf, min_nb, nd, sum_tf), one row per block (per term in a
        one-split index).

        Memoized per TERM on the driver — the TermStates / skip-data
        cache analogue (Lucene readers keep term metadata hot per
        segment; here the unit is the query term). Terms not yet cached
        are fetched in ONE job (_split_meta_rows); a warm query starts
        none, and the bound pass (wand.split_bounds) runs driver-side
        in numpy over ≤ (#splits × #blocks/split) rows per term (~10^6
        at 10^12 docs, the same bounded-metadata budget as the bound
        pass itself)."""
        cache = self._split_meta_cache
        missing = sorted({t for t in terms if t not in cache})
        fetched = self._split_meta_rows(missing) if missing else None
        # the result is built before eviction: one call may ask for
        # more terms than the cache holds
        frames = []
        for t in sorted(set(terms)):
            frame = cache.get(t)
            if frame is None:
                frame = fetched[fetched["term"] == t].reset_index(drop=True)
                cache[t] = frame
            frames.append(frame)
        while len(cache) > self._SPLIT_META_CACHE_MAX:
            cache.pop(next(iter(cache)))
        if not frames:
            return pd.DataFrame(columns=SPLIT_META_COLUMNS)
        return pd.concat(frames, ignore_index=True)

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """{term: (df, ttf)} for the indexed ``terms``, from the memoized
        split_meta rows: df = Σ nd and ttf = Σ sum_tf over the term's
        rows, the sums a segment store writes to ``terms_stats``. A warm
        query therefore scans nothing for its statistics (Lucene's
        TermStates cache)."""
        meta = self.split_meta(list(terms))
        if not len(meta):
            return {}
        names, ti = np.unique(meta["term"].to_numpy(), return_inverse=True)

        def total(col: str) -> list[int]:
            # float64 sums are exact below 2^53 postings per term
            w = meta[col].to_numpy(dtype=np.float64)
            return np.bincount(ti, weights=w).astype(np.int64).tolist()

        return dict(zip(names.tolist(), zip(total("nd"), total("sum_tf"))))

    def postings_for_terms(
        self,
        terms: list[str],
        want_positions: bool = False,
        splits: list[int] | None = None,
    ) -> DataFrame:
        """Pruned decode of the given terms' postings (decode_postings),
        after an optional bloom prune. ``splits``: optionally restrict
        to the given doc-range splits (doc_id // split_range) — the
        skip-list analogue the WAND paths use to decode only
        bound-surviving splits.

        With blooms attached (SegmentIndex.attach_blooms), the candidate
        splits are further intersected with the bloom's maybe-set — the
        BloomFilteringPostingsFormat.java:324 NO-answer short-circuit:
        a term absent from every split never touches the postings and
        comes back as an empty local frame.

        The WAND cost model (search/wand.py) also picks where decode
        runs: a fetch of at most ``wand.overhead_eq_postings()``
        postings is decoded eagerly on the driver, so the returned
        frame is a local table rather than a lazy Spark plan."""
        return self.decode_postings(
            terms, want_positions, self._bloom_splits(terms, splits)
        )

    def postings_for_terms_local(
        self,
        terms: list[str],
        want_positions: bool = False,
        splits: list[int] | None = None,
    ) -> "pd.DataFrame | None":
        """postings_for_terms as a driver-side pandas frame, or None
        when the fetch is above the bound (decode_postings_local)."""
        return self.decode_postings_local(
            terms, want_positions, self._bloom_splits(terms, splits)
        )

    def _bloom_splits(
        self, terms: list[str], splits: list[int] | None
    ) -> list[int] | None:
        """``splits`` intersected with the attached blooms' maybe-set
        (unchanged without blooms, or when the bloom excludes
        nothing)."""
        if self.blooms is None:
            return splits
        maybe = self.blooms.splits_for(list(terms))
        if splits is None and len(maybe) >= self.n_splits:
            return None  # bloom excludes nothing — keep the unpruned scan
        return sorted(maybe if splits is None else (set(splits) & maybe))

    def decode_postings(
        self,
        terms: list[str],
        want_positions: bool = False,
        splits: list[int] | None = None,
    ) -> DataFrame:
        """The one decode entry point for a term (and split) restricted
        fetch: its DECODED_SCHEMA rows.

        Where decode runs is chosen by the WAND cost model: a bounded
        fetch is decode_postings_local's frame, handed back as a local
        table, so the query never crosses into a Python worker for
        postings. Larger fetches stay a lazy Spark plan
        (_scan_postings)."""
        decoded = self.decode_postings_local(terms, want_positions, splits)
        if decoded is not None:
            return local_frame(self.spark, decoded, DECODED_SCHEMA)
        return self._scan_postings(
            terms, want_positions and self.keep_positions, splits
        )

    def decode_postings_local(
        self,
        terms: list[str],
        want_positions: bool = False,
        splits: list[int] | None = None,
    ) -> "pd.DataFrame | None":
        """A bounded fetch decoded on the driver: the DECODED_SCHEMA rows
        of ``terms`` (restricted to ``splits``) as pandas, or None when
        the fetch is too large to pull.

        The fetch size is Σ nd over the memoized split_meta rows of its
        terms and splits. At or under ``wand.overhead_eq_postings()``
        postings (the decode work one extra Spark job's fixed overhead
        buys), it is read from parquet on the driver (_pull_postings),
        starting no Spark job, unless the compressed row groups it would
        touch exceed ``wand.overhead_eq_bytes()`` (what the driver reads
        in one job's overhead). Driver memory is bounded by both caps.
        The same bound lets bounded sloppy phrases and routed queries
        finish on the driver. A fetch with no postings reads nothing."""
        from ..search.wand import overhead_eq_postings  # wand imports us

        meta = self.split_meta(list(terms))
        if splits is not None:
            meta = meta[meta["split"].isin(list(splits))]
        n_postings = int(meta["nd"].sum())
        if n_postings == 0:
            return _empty_decoded()
        if n_postings > overhead_eq_postings():
            return None
        return self._pull_postings(
            terms, want_positions and self.keep_positions, splits
        )


class SegmentIndex(SplitIndex):
    """Query-side view over the persisted segment store, duck-typed to
    InvertedIndex (Searcher works unchanged): ``postings`` decodes blocks
    lazily behind a term-pruned scan. Its splits are the doc ranges
    ``first_doc // split_range``, and split_meta has one row per
    block. A view is one immutable store generation, so the file
    listings and footers of its bucket directories are read once
    (DriverParquet)."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        manifest: dict,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = manifest
        self.docs = spark.read.parquet(f"{index_dir}/docs")
        self.terms_stats = spark.read.parquet(f"{index_dir}/terms_stats")
        self.blocks = spark.read.parquet(f"{index_dir}/postings")
        self.stats = CollectionStats(
            max_doc=manifest["max_doc"],
            sum_total_term_freq=manifest["sum_total_term_freq"],
        )
        self.n_buckets = manifest["n_buckets"]
        self.split_range = int(manifest.get("split_range", SPLIT_RANGE))
        self._bucket_cache: dict[str, int] = {}
        self._split_meta_cache: "dict[str, pd.DataFrame]" = {}
        self._parquet = DriverParquet(f"{index_dir}/postings")

    @property
    def n_splits(self) -> int:
        return self.stats.max_doc // self.split_range + 1

    @property
    def keep_positions(self) -> bool:
        return bool(self.manifest["keep_positions"])

    def attach_blooms(self, build: bool = False) -> "SegmentIndex":
        """Load (or build-and-load) the per-split term blooms and turn
        on bloom split pruning for this view. Returns self."""
        from .bloom import BloomIndex, build_blooms

        if build:
            build_blooms(self)
        self.blooms = BloomIndex.open(self)
        return self

    def _split_meta_rows(self, terms: list[str]) -> "pd.DataFrame":
        """One row per block of ``terms``: filter + project + toPandas
        via Arrow, one narrow job with no shuffle."""
        return (
            self.blocks.where(
                F.col("bucket").isin(self.buckets_of(terms))
                & F.col("term").isin(terms)
            )
            .select(
                "term",
                (F.col("first_doc") / F.lit(self.split_range))
                .cast("long")
                .alias("split"),
                "max_tf",
                "min_nb",
                F.col("num_docs").alias("nd"),
                "sum_tf",
            )
            .toPandas()
        )

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        index_dir: str,
        generation: int | None = None,
    ) -> "SegmentIndex":
        """Open the latest commit, or — time travel — a specific
        retained commit point (DirectoryReader.open(IndexCommit) over a
        keep-commits IndexDeletionPolicy; the Iceberg snapshot-id read
        analogue)."""
        manifest = read_manifest(index_dir, generation=generation)
        if manifest is None:
            raise FileNotFoundError(f"no segments_N.json under {index_dir}")
        return cls(spark, index_dir, manifest)

    # --- InvertedIndex duck-type ---

    @property
    def postings(self) -> DataFrame:
        """Full decoded postings view. Filters on ``term`` applied by the
        caller land on the block scan via _TermPrunedPostings below; the
        generic view decodes everything (used only by MatchAll-ish paths).
        """
        return self.blocks.mapInPandas(
            _decode_partitions(self.keep_positions),
            DECODED_SCHEMA,
        )

    def block_scan(
        self, terms: list[str], splits: list[int] | None = None
    ) -> DataFrame:
        """The encoded blocks of ``terms`` (restricted to ``splits`` when
        given): bucket partition pruning + term row-group pruning happen
        in the scan, before any decode (the .tip/FST lookup
        analogue)."""
        cond = [
            sql_in("bucket", self.buckets_of(terms), "int"),
            sql_in("term", terms, "string"),
        ]
        if splits is not None:
            cond.append(
                sql_in(
                    f"CAST(first_doc / {self.split_range} AS BIGINT)",
                    splits,
                    "bigint",
                )
            )
        return self.blocks.where(" AND ".join(cond))

    def _pull_postings(
        self,
        terms: list[str],
        want_positions: bool,
        splits: list[int] | None,
    ) -> "pd.DataFrame | None":
        """A bounded fetch read on the driver: the row groups of the
        query terms' ``postings/bucket=<b>/`` directories that their
        ``term`` statistics admit, just the columns decode needs, then
        the rows of ``terms`` (and ``splits``) decoded at once by the
        kernel the distributed path runs (codec.decode_blocks). None
        when those row groups exceed ``wand.overhead_eq_bytes()``
        compressed bytes."""
        from ..search.wand import overhead_eq_bytes  # wand imports us

        cols = _DECODE_COLUMNS + (["pos_bin"] if want_positions else [])
        table = self._parquet.read(
            [f"bucket={b}" for b in self.buckets_of(terms)], terms, cols,
            overhead_eq_bytes(),
        )
        if table is None:
            return None
        if splits is not None:
            split = table["first_doc"].to_numpy() // self.split_range
            table = table.filter(pa.array(np.isin(split, list(splits))))
        return decode_blocks(table, want_positions)

    def _scan_postings(
        self,
        terms: list[str],
        want_positions: bool,
        splits: list[int] | None,
    ) -> DataFrame:
        """Any fetch: ``block_scan(terms, splits)`` decoded distributed
        in ``mapInPandas``."""
        return self.block_scan(terms, splits).mapInPandas(
            _decode_partitions(want_positions), DECODED_SCHEMA
        )

    def postings_for_matched(
        self, matched: DataFrame, want_positions: bool = False
    ) -> DataFrame:
        """Pruned decode for an UNBOUNDED matched-term frame (broad
        multi-term expansions): broadcast-semi-join the term set against
        the block scan instead of collecting the dictionary to the
        driver (MultiTermQuery rewrite beyond the 1024-clause cap,
        BooleanQuery.java:42). Bucket is recomputed on the matched side
        so the join key (bucket, term) aligns with the partition column
        — parquet row-group stats on term still prune the scan."""
        m = matched.select("term").withColumn(
            "bucket", _bucket_col(F.col("term"), self.n_buckets)
        )
        pruned = self.blocks.join(
            F.broadcast(m), on=["bucket", "term"], how="left_semi"
        )
        return pruned.mapInPandas(
            _decode_partitions(want_positions and self.keep_positions),
            DECODED_SCHEMA,
        )

    def buckets_of(self, terms: list[str]) -> list[int]:
        """Sorted bucket ids of ``terms``, memoized per term: terms not
        seen yet cost one tiny local job (it must match _bucket_col:
        Spark xxhash64, default seed 42), so a query whose terms are all
        warm starts none, whatever their combination."""
        cache = self._bucket_cache
        missing = sorted({t for t in terms if t not in cache})
        if missing:
            rows = (
                self.spark.createDataFrame(
                    [(t,) for t in missing], "term string"
                )
                .select(
                    "term",
                    _bucket_col(F.col("term"), self.n_buckets).alias("b"),
                )
                .collect()
            )
            cache.update((r["term"], int(r["b"])) for r in rows)
        return sorted({cache[t] for t in terms})
