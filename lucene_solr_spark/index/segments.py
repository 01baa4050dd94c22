"""Segment-style persisted index — the SegmentInfos / commit-point analogue.

Layout under ``index_dir``:
  postings/bucket=<b>/...parquet   block-encoded postings (codec.py)
  terms_stats/...parquet           (term, df, ttf, bucket)
  docs/...parquet                  doc store (stored-fields analogue)
  segments_<gen>.json              commit manifest (two-phase: .tmp+rename,
                                   mirroring prepareCommit/finishCommit,
                                   lucene/core/.../index/SegmentInfos.java:57-117)

Writers: one block encoder (codec.encode_blocks) and one tail.
  build_segment_store (tokenize) and write_segments (flat postings of an
  InvertedIndex) each flush map-side partial runs, one per (term,
  split), share one shuffle + merge into BLOCK_SIZE blocks
  (_write_postings), and finish in _commit_store: terms_stats from block
  metadata, collection stats, manifest commit. The splitter and
  merge_stores (splitter._write_part_store) copy or re-encode blocks and
  finish in the same _commit_store.
  Like Lucene's IndexWriter, which records a segment's doc count and
  field schema when it flushes (SegmentInfo, FieldInfos), a writer never
  reads back what it wrote to learn either: ``max_doc`` and each
  bucket's block count are counted by Observations on the write jobs,
  and every table is read with a schema the engine already has
  (SEGMENT_SCHEMA, TERMS_STATS_SCHEMA, and the doc store's schema from
  its own parquet footer), so no read starts a schema-inference job.

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
from pyspark.sql import DataFrame, Observation, SparkSession
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
from .builder import CollectionStats, InvertedIndex
from .codec import (
    BLOCK_SIZE,
    decode_blocks,
    encode_blocks,
    encode_positions,
    position_spans,
)

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

# (term, df, ttf, bucket): _commit_store's per-term aggregate of the
# block metadata
TERMS_STATS_SCHEMA = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("ttf", LongType(), False),
        StructField("bucket", IntegerType(), False),
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


def _block_rows(
    blocks: pd.DataFrame, term: np.ndarray, bucket: np.ndarray
) -> pd.DataFrame:
    """codec.encode_blocks rows as SEGMENT_SCHEMA rows, given each
    group's ``term`` and ``bucket``."""
    group = blocks.pop("group").to_numpy()
    blocks.insert(0, "term", np.asarray(term, dtype=object)[group])
    blocks.insert(0, "bucket", np.asarray(bucket)[group].astype(np.int32))
    return blocks


def _partial_runs(
    uniques: np.ndarray,
    codes: np.ndarray,
    doc: np.ndarray,
    tf: np.ndarray,
    nb: np.ndarray,
    positions: np.ndarray | None,
    split_range: int,
) -> pd.DataFrame:
    """Map-side flush of postings sorted by (term code, doc): one
    partial run per (term, split) — the DWPT flush unit
    (lucene/core/.../index/DocumentsWriterPerThread.java:44; ours are
    per-partition partial runs merged after the term shuffle), in block
    format so the merge decodes and re-blocks it with array ops.
    ``positions``: every doc's positions, flat (tf each), or None. The
    bucket is assigned by a Catalyst column afterwards."""
    split = doc // split_range
    change = np.flatnonzero(
        (codes[1:] != codes[:-1]) | (split[1:] != split[:-1])
    ) + 1
    bounds = np.concatenate(([0], change, [len(doc)]))
    runs = encode_blocks(
        doc,
        tf,
        nb,
        bounds,
        block_size=None,
        positions=None if positions is None else encode_positions(
            positions, tf
        ),
    )
    starts = bounds[:-1]
    return _block_rows(
        runs, uniques[codes[starts]], np.full(len(starts), -1)
    )


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
    orders them (term, doc, pos), and codec.encode_blocks encodes every
    run at once — per-doc position lists are never materialized, so
    flush cost is independent of doc count at fixed token count.
    """
    from ..analysis.tokenizer import tokenize_flat
    from .norms import encode_norm

    def flush(parts: list[dict]) -> pd.DataFrame:
        doc, term, pos, nb = (
            np.concatenate([p[k] for p in parts])
            for k in ("doc", "term", "pos", "nb")
        )
        codes, uniques = pd.factorize(term, sort=False)
        # split = doc // split_range is monotone in doc, so sorting by
        # (code, doc, pos) makes every (term, split) run contiguous
        order = np.lexsort((pos, doc, codes))
        doc, pos, nb, codes = (
            doc[order], pos[order], nb[order], codes[order]
        )
        # one posting per (term, doc): its tokens are contiguous
        starts = np.flatnonzero(
            np.concatenate(
                ([True], (codes[1:] != codes[:-1]) | (doc[1:] != doc[:-1]))
            )
        )
        tf = np.diff(np.append(starts, len(doc)))
        return _partial_runs(
            np.asarray(uniques, dtype=object),
            codes[starts],
            doc[starts],
            tf,
            nb[starts],
            pos if keep_positions else None,
            split_range,
        )

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


def _encode_flat_partitions(split_range: int, keep_positions: bool):
    """Map side of write_segments: each Arrow batch of flat postings
    (doc_id, term, tf, norm_byte, positions) sorted by (term, doc_id)
    and flushed as partial runs, like a tokenize flush."""

    def run_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            codes, uniques = pd.factorize(pdf["term"], sort=False)
            doc = pdf["doc_id"].to_numpy(dtype=np.int64)
            order = np.lexsort((doc, codes))
            yield _partial_runs(
                np.asarray(uniques, dtype=object),
                codes[order],
                doc[order],
                pdf["tf"].to_numpy(dtype=np.int64)[order],
                pdf["norm_byte"].to_numpy(dtype=np.int64)[order],
                np.concatenate(pdf["positions"].to_numpy()[order])
                if keep_positions
                else None,
                split_range,
            )

    return run_udf


def _merge_partials_stream(split_range: int, keep_positions: bool):
    """Reducer: rows hash-partitioned by (term, split) and sorted by
    (term, first_doc) — each (term, split) group's partial runs are
    contiguous. BATCH re-block (SegmentMerger.mergeTerms analogue,
    lucene/core/.../index/SegmentMerger.java:91-115): at Zipfian
    vocabularies most groups hold a handful of docs, so the whole Arrow
    frame is decoded in one codec.decode_blocks call, doc-sorted with
    ONE global in-group lexsort (only when map-task doc ranges
    interleaved), and re-encoded into BLOCK_SIZE blocks by one
    codec.encode_blocks call. Positions are byte-sliced per doc, never
    decoded (each doc's sub-stream starts with an absolute position)."""

    def pack_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        terms_arr = pdf["term"].to_numpy()
        first_doc = pdf["first_doc"].to_numpy(dtype=np.int64)
        splits_arr = first_doc // split_range
        num_docs = pdf["num_docs"].to_numpy(dtype=np.int64)
        change = np.flatnonzero(
            (terms_arr[1:] != terms_arr[:-1])
            | (splits_arr[1:] != splits_arr[:-1])
        ) + 1
        p_starts = np.concatenate(([0], change))

        # ---- decode every partial in one shot ----
        decoded = decode_blocks(_arrow_blocks(pdf, _DECODE_COLUMNS), False)
        docs = decoded["doc_id"].to_numpy()
        tfs = decoded["tf"].to_numpy().astype(np.int64)
        norms = decoded["norm_byte"].to_numpy().astype(np.uint8)
        total = len(docs)
        row_start = np.zeros(len(pdf) + 1, dtype=np.int64)
        np.cumsum(num_docs, out=row_start[1:])
        g_bounds = row_start[np.append(p_starts, len(pdf))]
        positions = None
        if keep_positions:
            pos_cat = b"".join(x or b"" for x in pdf["pos_bin"])
            positions = (pos_cat, *position_spans(pos_cat, tfs))

        # ---- repair interleaved map-task doc ranges (one lexsort) ----
        inner = np.ones(total, dtype=bool)
        inner[g_bounds[:-1]] = False  # group-start positions excluded
        if total > 1 and np.any((np.diff(docs) <= 0) & inner[1:]):
            grp_of_doc = np.repeat(
                np.arange(len(p_starts)), np.diff(g_bounds)
            )
            order = np.lexsort((docs, grp_of_doc))
            docs, tfs, norms = docs[order], tfs[order], norms[order]
            if positions is not None:
                pos_cat, lo, hi = positions
                positions = (pos_cat, lo[order], hi[order])

        blocks = encode_blocks(
            docs, tfs, norms, g_bounds, BLOCK_SIZE, positions
        )
        return _block_rows(
            blocks,
            terms_arr[p_starts],
            pdf["bucket"].to_numpy(dtype=np.int64)[p_starts],
        )

    def run_udf(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            n = len(pdf)
            if n == 0:
                continue
            # the last (term, split) group may continue in the next
            # batch — hold it back
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
            carry = pdf.iloc[n - n_tail :].reset_index(drop=True)
            if len(head):
                yield pack_frame(head)
        if carry is not None and len(carry):
            yield pack_frame(carry)

    return run_udf


def _new_manifest(
    n_buckets: int, keep_positions: bool, split_range: int, max_doc: int
) -> dict:
    """Generation 0 of a store whose doc store holds ``max_doc`` docs:
    no bucket committed, term stats filled in by _commit_store."""
    return {
        "generation": 0,
        "n_buckets": n_buckets,
        "block_size": BLOCK_SIZE,
        "split_range": split_range,
        "keep_positions": keep_positions,
        "max_doc": max_doc,
        "sum_total_term_freq": 0,
        "avgdl": 0.0,
        "buckets": {},
    }


def _write_docs(docs: DataFrame, path: str) -> int:
    """Write the doc store to ``path`` and return its doc count, counted
    DURING the write job (an Observation, as _append_blocks counts
    blocks): no read-back pass over the doc store."""
    obs = Observation()
    (
        docs.observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite")
        .parquet(path)
    )
    return int(obs.get["n"])


def _read_blocks(spark: SparkSession, index_dir: str) -> DataFrame:
    """The store's postings blocks, read with SEGMENT_SCHEMA (``bucket``
    the partition column, last, as partition discovery puts it)."""
    return spark.read.schema(SEGMENT_SCHEMA).parquet(
        f"{index_dir}/postings"
    )


def _append_blocks(
    blocks: DataFrame, index_dir: str, manifest: dict, buckets: list[int]
) -> None:
    """Append ``blocks`` (SEGMENT_SCHEMA, only ``buckets``) to the
    bucket-partitioned postings store and record each bucket's block
    count in ``manifest``, counted DURING the write job — no read-back
    pass over the store."""
    obs = Observation()
    (
        blocks.observe(
            obs,
            *[
                F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(
                    f"b{b}"
                )
                for b in buckets
            ],
        )
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(f"{index_dir}/postings")
    )
    observed = obs.get
    for b in buckets:
        manifest["buckets"][str(b)] = {
            "blocks": int(observed.get(f"b{b}") or 0),
            "committed_at_gen": manifest["generation"] + 1,
        }


def _write_postings(
    index_dir: str, manifest: dict, partials: DataFrame
) -> bool:
    """Merge ``partials`` (partial runs, SEGMENT_SCHEMA) into the store's
    blocks for every bucket ``manifest`` has not committed; False when
    none is left.

    ONE full-width shuffle keyed by (term, split): the doc-range split
    both salts skewed high-df terms across reducers AND keeps every
    reducer's task count = spark.sql.shuffle.partitions. Buckets are
    resumable: a crash may have left partial directories for unfinished
    buckets (data files without a manifest entry), which are removed so
    the rebuild is idempotent, like UpdateLog replay discarding an
    uncommitted tlog tail."""
    import shutil

    n_buckets = manifest["n_buckets"]
    split_range = manifest["split_range"]
    todo = [b for b in range(n_buckets) if str(b) not in manifest["buckets"]]
    if not todo:
        return False
    for b in todo:
        shutil.rmtree(f"{index_dir}/postings/bucket={b}", ignore_errors=True)
    partials = partials.withColumn(
        "bucket", _bucket_col(F.col("term"), n_buckets)
    )
    if len(todo) < n_buckets:
        partials = partials.where(F.col("bucket").isin(todo))
    split_expr = (F.col("first_doc") / F.lit(split_range)).cast("long")
    packed = (
        partials.repartition(split_expr, F.col("term"))
        .sortWithinPartitions("term", "first_doc")
        .mapInPandas(
            _merge_partials_stream(split_range, manifest["keep_positions"]),
            SEGMENT_SCHEMA,
        )
    )
    _append_blocks(packed, index_dir, manifest, todo)
    return True


def _commit_store(
    spark: SparkSession,
    index_dir: str,
    manifest: dict,
    phases: dict | None = None,
) -> "SegmentIndex":
    """The one tail of every store writer: ``terms_stats`` from the block
    METADATA (df = Σ num_docs, ttf = Σ sum_tf per (term, bucket) —
    parquet column pruning never touches the binary block columns),
    ``sum_total_term_freq`` from those stats (summed as they are
    written), then the two-phase manifest commit. ``max_doc`` is the
    manifest's: the count the writer observed while writing the doc
    store, or, for a resumed build that did not rewrite it, the
    committed one. Stats cover every committed bucket, resumed ones
    included. This is the Lucene shape: stats live in the segment
    files, not in a separate corpus pass (SegmentInfos / TermContext
    accumulation). ``phases`` (seconds per build phase) is recorded
    with this tail's own, ``terms_stats``."""
    phases = dict(phases or {})
    t0 = time.perf_counter()
    obs = Observation()
    (
        _read_blocks(spark, index_dir)
        .groupBy("term", "bucket")
        .agg(
            F.sum("num_docs").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("ttf"),
        )
        .select("term", "df", "ttf", "bucket")
        .observe(obs, F.sum("ttf").alias("sum_ttf"))
        .write.mode("overwrite")
        .parquet(f"{index_dir}/terms_stats")
    )
    sum_ttf = int(obs.get.get("sum_ttf") or 0)
    phases["terms_stats"] = round(time.perf_counter() - t0, 3)
    manifest["sum_total_term_freq"] = sum_ttf
    manifest["avgdl"] = float(
        avg_field_length(sum_ttf, manifest["max_doc"])
    )
    manifest["build_phase_sec"] = phases  # north-rule metrics: per-phase
    manifest["generation"] += 1
    commit_manifest(index_dir, manifest)
    return SegmentIndex.open(spark, index_dir)


def write_segments(
    index: InvertedIndex,
    index_dir: str,
    n_buckets: int = 16,
    keep_positions: bool = True,
    split_range: int = SPLIT_RANGE,
) -> "SegmentIndex":
    """Persist ``index`` as a segment store. The flat postings are the
    second source of partial runs (each Arrow batch sorted and flushed
    map-side); from there it is build_segment_store's path: one shuffle
    and merge into blocks, resumable per bucket (buckets already in the
    manifest are skipped), and the shared stats-and-commit tail."""
    os.makedirs(index_dir, exist_ok=True)
    manifest = read_manifest(index_dir)
    if manifest is None:
        manifest = _new_manifest(
            n_buckets, keep_positions, split_range,
            _write_docs(index.docs, f"{index_dir}/docs"),
        )
    keep_positions = manifest["keep_positions"]
    cols = ["doc_id", "term", "tf", "norm_byte"]
    partials = index.postings.select(
        *cols, *(["positions"] if keep_positions else [])
    ).mapInPandas(
        _encode_flat_partitions(manifest["split_range"], keep_positions),
        SEGMENT_SCHEMA,
    )
    _write_postings(index_dir, manifest, partials)
    return _commit_store(index.spark, index_dir, manifest)


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

    The numbered doc store is materialized first; the tokenize flush
    (map-side partial runs) feeding the merge is the only inversion, and
    both terms_stats and the collection stats are derived afterwards
    from block metadata by the shared _commit_store tail. Contrast with
    build_index + write_segments, which inverts once for the flat
    postings and flushes those.

    Resume-safe at bucket granularity like write_segments: stats are
    recomputed from the on-disk blocks, so they cover buckets committed
    by a previous crashed run, and ``max_doc`` is the committed
    manifest's (a resumed build does not rewrite the doc store).
    ``split_range`` None is SPLIT_RANGE, the
    doc-range salt of the merge shuffle: partial runs are binary, so a
    Zipf-head term's whole group is a cheap vectorized merge and the
    salt only has to bound group size in memory."""
    phases: dict[str, float] = {}
    t = time.perf_counter()

    def mark(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 3)
        t = now

    os.makedirs(index_dir, exist_ok=True)
    manifest = read_manifest(index_dir)
    if manifest is None:
        if "doc_id" not in docs.columns:
            from .docids import assign_doc_ids

            docs = assign_doc_ids(
                docs, order_cols or ["conv_id", "turn_idx"]
            )
        mark("plan_docids")
        max_doc = _write_docs(docs, f"{index_dir}/docs")
        mark("docs_write")
        manifest = _new_manifest(
            n_buckets,
            keep_positions,
            SPLIT_RANGE if split_range is None else split_range,
            max_doc,
        )
    src = _read_docs(spark, DriverParquet(index_dir)).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col(text_col).cast("string").alias("text"),
    )
    partials = src.mapInPandas(
        _invert_flush_partitions(
            manifest["split_range"], manifest["keep_positions"]
        ),
        SEGMENT_SCHEMA,
    )
    if _write_postings(index_dir, manifest, partials):
        mark("pack_write")
    return _commit_store(spark, index_dir, manifest, phases)


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


_ARROW_SEGMENT_SCHEMA = to_arrow_schema(SEGMENT_SCHEMA)


def _arrow_blocks(pdf: pd.DataFrame, cols: list[str]) -> pa.Table:
    """The ``cols`` of a pandas batch of block rows as the Arrow table
    codec.decode_blocks reads."""
    return pa.Table.from_pandas(
        pdf[cols],
        schema=pa.schema([_ARROW_SEGMENT_SCHEMA.field(c) for c in cols]),
        preserve_index=False,
    )


def _decode_partitions(want_positions: bool):
    """mapInPandas body: each batch of block rows decoded at once by
    codec.decode_blocks."""
    cols = _DECODE_COLUMNS + (["pos_bin"] if want_positions else [])

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_blocks(_arrow_blocks(pdf, cols), want_positions)

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

    def spark_schema(self, sub: str) -> StructType:
        """The Spark schema of the table Spark wrote to ``root/sub``: the
        row metadata its parquet writer stores in every footer, which
        is what Spark's own schema inference reads, so a read with it
        starts no inference job."""
        (_, meta), *_ = self.footers(sub)
        key = b"org.apache.spark.sql.parquet.row.metadata"
        return StructType.fromJson(json.loads(meta.metadata[key]))

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


def _read_docs(spark: SparkSession, parquet: DriverParquet) -> DataFrame:
    """The doc store under ``parquet.root``, read with the schema in its
    own footer (its columns are the caller's)."""
    return spark.read.schema(parquet.spark_schema("docs")).parquet(
        f"{parquet.root}/docs"
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
    listings and footers of its doc store and bucket directories are
    read once (DriverParquet). Opening one starts no Spark job: every
    table is read with a schema the engine already has."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        manifest: dict,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.manifest = manifest
        self._parquet = DriverParquet(index_dir)
        self.docs = _read_docs(spark, self._parquet)
        self.terms_stats = spark.read.schema(TERMS_STATS_SCHEMA).parquet(
            f"{index_dir}/terms_stats"
        )
        self.blocks = _read_blocks(spark, index_dir)
        self.stats = CollectionStats(
            max_doc=manifest["max_doc"],
            sum_total_term_freq=manifest["sum_total_term_freq"],
        )
        self.n_buckets = manifest["n_buckets"]
        self.split_range = int(manifest.get("split_range", SPLIT_RANGE))
        self._bucket_cache: dict[str, int] = {}
        self._split_meta_cache: "dict[str, pd.DataFrame]" = {}

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
            [f"postings/bucket={b}" for b in self.buckets_of(terms)],
            terms, cols,
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
