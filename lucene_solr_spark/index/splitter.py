"""Index splitters — reshard a segment store without re-indexing.

Reference: lucene/misc/src/java/org/apache/lucene/index/
PKIndexSplitter.java (split one index into two by a doc filter,
typically a primary-key range) and MultiPassIndexSplitter.java (split
into N parts round-robin or by sequential ranges). The reference
re-writes every segment through FilterIndexReader passes; the Spark
store makes range splits almost free instead:

  Postings blocks are encoded per (term, doc-range split) with their
  own [first_doc, last_doc] (index/codec.py), so a PK range split at
  ``mid`` copies every block that lies entirely on one side VERBATIM
  (no decode) and re-encodes only the blocks straddling the boundary —
  at 10^12 docs that is O(#terms) boundary blocks vs O(corpus) total,
  i.e. a metadata-speed reshard. Round-robin (MultiPass) splitting has
  no such locality and routes every block through the same
  decode/re-encode kernel — the honest cost of that layout choice.

Each output half is a complete, self-contained store: per-term stats
(df/ttf) are re-aggregated from its own blocks, collection stats
(maxDoc, sumTTF, avgdl) recomputed, manifest committed two-phase.
Searching a half is bit-identical to searching a fresh index built
over the same doc subset (pinned by tests/test_splitter.py).
"""

from __future__ import annotations

import os
import shutil
from typing import Callable, Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .codec import BLOCK_SIZE, decode_blocks, encode_blocks, position_spans
from .segments import (
    _DECODE_COLUMNS,
    SEGMENT_SCHEMA,
    SPLIT_RANGE,
    SegmentIndex,
    _append_blocks,
    _arrow_blocks,
    _block_rows,
    _commit_store,
    _new_manifest,
    _write_docs,
)

# part-id column appended to SEGMENT_SCHEMA by the re-encode kernel.
# Built as a FRESH StructType: StructType.add mutates in place, and
# poisoning the shared SEGMENT_SCHEMA would break every packer/decoder.
from pyspark.sql.types import IntegerType, StructField, StructType

_KERNEL_SCHEMA = StructType(
    list(SEGMENT_SCHEMA.fields)
    + [StructField("part", IntegerType(), False)]
)


def _reencode_kernel(
    part_of_doc: Callable[[np.ndarray], np.ndarray], keep_positions: bool
):
    """mapInPandas kernel: decode each batch of posting blocks at once
    (codec.decode_blocks), route its docs to parts via ``part_of_doc``
    (vectorized doc_id -> part id), and re-encode one run per
    (block, part) with codec.encode_blocks. Positions move as per-doc
    byte spans, never decoded. Batch-at-a-time — bounded memory."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            decoded = decode_blocks(_arrow_blocks(pdf, _DECODE_COLUMNS), False)
            doc = decoded["doc_id"].to_numpy()
            tf = decoded["tf"].to_numpy().astype(np.int64)
            block = np.repeat(
                np.arange(len(pdf)), pdf["num_docs"].to_numpy(dtype=np.int64)
            )
            part = part_of_doc(doc)
            # stable: docs keep their order within each (block, part)
            order = np.lexsort((part, block))
            block, part = block[order], part[order]
            change = (block[1:] != block[:-1]) | (part[1:] != part[:-1])
            starts = np.flatnonzero(np.concatenate(([True], change)))
            positions = None
            if keep_positions:
                pos_cat = b"".join(pdf["pos_bin"])
                lo, hi = position_spans(pos_cat, tf)
                positions = (pos_cat, lo[order], hi[order])
            runs = encode_blocks(
                doc[order],
                tf[order],
                decoded["norm_byte"].to_numpy()[order].astype(np.uint8),
                np.append(starts, len(doc)),
                BLOCK_SIZE,
                positions,
            )
            runs["part"] = part[starts][runs["group"]].astype(np.int32)
            src = block[starts]
            yield _block_rows(
                runs,
                pdf["term"].to_numpy()[src],
                pdf["bucket"].to_numpy(dtype=np.int64)[src],
            )

    return run


def _write_part_store(
    spark: SparkSession,
    out_dir: str,
    blocks: DataFrame,
    docs: DataFrame,
    manifest_base: dict,
) -> SegmentIndex:
    """Materialize one output store: the doc store (its doc count
    observed by the write), postings (bucket-partitioned), then the
    shared stats-and-commit tail (per-term stats re-aggregated from the
    part's own blocks, collection stats recomputed, two-phase
    manifest)."""
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(f"{out_dir}/postings", ignore_errors=True)
    manifest = _new_manifest(
        manifest_base["n_buckets"],
        manifest_base["keep_positions"],
        manifest_base.get("split_range", SPLIT_RANGE),
        _write_docs(docs, f"{out_dir}/docs"),
    )
    _append_blocks(
        blocks, out_dir, manifest, list(range(manifest["n_buckets"]))
    )
    return _commit_store(spark, out_dir, manifest)


def _open_source(spark: SparkSession, src_dir: str) -> SegmentIndex:
    """The committed store to split (its blocks and doc store are read
    with the schemas the engine has: no inference job)."""
    from .segments import read_manifest

    man = read_manifest(src_dir)
    if man is None:
        raise ValueError(f"no committed manifest under {src_dir}")
    return SegmentIndex(spark, src_dir, man)


def pk_split(
    spark: SparkSession,
    src_dir: str,
    out_lo: str,
    out_hi: str,
    mid_doc: int,
    stats_out: dict | None = None,
) -> tuple[SegmentIndex, SegmentIndex]:
    """PKIndexSplitter.java analogue: split at ``mid_doc`` — docs with
    doc_id < mid go to ``out_lo``, the rest to ``out_hi``. Blocks
    entirely on one side copy verbatim; only straddling blocks decode.
    ``stats_out`` receives blocks_total / blocks_copied /
    blocks_reencoded — the metadata-speed-reshard proof hook."""
    src = _open_source(spark, src_dir)
    man, blocks = src.manifest, src.blocks
    mid = int(mid_doc)
    lo_whole = blocks.where(F.col("last_doc") < mid)
    hi_whole = blocks.where(F.col("first_doc") >= mid)
    straddle = blocks.where(
        (F.col("first_doc") < mid) & (F.col("last_doc") >= mid)
    )
    if stats_out is not None:
        total = blocks.count()
        re_n = straddle.count()
        stats_out.update(
            blocks_total=total,
            blocks_copied=total - re_n,
            blocks_reencoded=re_n,
        )
    re = straddle.mapInPandas(
        _reencode_kernel(
            lambda d: (d >= mid).astype(np.int32), man["keep_positions"]
        ),
        _KERNEL_SCHEMA,
    )
    seg_cols = [f.name for f in SEGMENT_SCHEMA.fields]
    re_lo = re.where(F.col("part") == 0).select(*seg_cols)
    re_hi = re.where(F.col("part") == 1).select(*seg_cols)
    lo = _write_part_store(
        spark,
        out_lo,
        lo_whole.unionByName(re_lo),
        src.docs.where(F.col("doc_id") < mid),
        man,
    )
    hi = _write_part_store(
        spark,
        out_hi,
        hi_whole.unionByName(re_hi),
        src.docs.where(F.col("doc_id") >= mid),
        man,
    )
    return lo, hi


def multipass_split(
    spark: SparkSession,
    src_dir: str,
    out_dirs: list[str],
    sequential: bool = False,
) -> list[SegmentIndex]:
    """MultiPassIndexSplitter.java analogue: N parts, round-robin
    (doc_id % N, the reference default) or sequential doc ranges.
    Round-robin interleaves every block, so every block re-encodes —
    use pk_split when ranges suffice."""
    src = _open_source(spark, src_dir)
    man = src.manifest
    n = len(out_dirs)
    max_doc = int(man["max_doc"])
    if sequential:
        width = (max_doc + n - 1) // n

        def part_of(d: np.ndarray) -> np.ndarray:
            return np.minimum(d // width, n - 1).astype(np.int32)

        def doc_part(col):
            return F.least(
                (col / F.lit(width)).cast("int"), F.lit(n - 1)
            )

    else:

        def part_of(d: np.ndarray) -> np.ndarray:
            return (d % n).astype(np.int32)

        def doc_part(col):
            return (col % F.lit(n)).cast("int")

    re = src.blocks.mapInPandas(
        _reencode_kernel(part_of, man["keep_positions"]), _KERNEL_SCHEMA
    )
    re = re.localCheckpoint()  # one decode pass feeds all N writes
    seg_cols = [f.name for f in SEGMENT_SCHEMA.fields]
    out = []
    for i, d in enumerate(out_dirs):
        out.append(
            _write_part_store(
                spark,
                d,
                re.where(F.col("part") == i).select(*seg_cols),
                src.docs.where(doc_part(F.col("doc_id")) == i),
                man,
            )
        )
    return out
