"""Index merging — the IndexMergeTool / IndexWriter.addIndexes path.

Reference: lucene/misc/src/java/org/apache/lucene/misc/
IndexMergeTool.java:30-60 (addIndexes(Directory...) + forceMerge) and
lucene/core/.../index/IndexWriter.java addIndexes — incoming segments
are appended with their docIDs shifted by the running docBase.

Spark shape: a posting block's docs_bin stores gaps RELATIVE to its
first_doc (codec.py encode_blocks — gap[0] = 0), so rebasing a
whole source index is a METADATA-ONLY projection: first_doc/last_doc
shift by the docBase, the encoded bytes are carried verbatim, and the
doc store shifts its doc_id column. No block is ever decoded — the
same verbatim-copy property the PK splitter exploits, in reverse.
Per-term stats and collection stats re-aggregate from the merged
blocks (one metadata-scale agg), never from postings decode.

``rebase=False`` appends sources whose doc-id spaces are already
disjoint (e.g. the two halves of a pk_split) unchanged — merging a
split back yields search results bit-identical to the original store.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from .segments import SegmentIndex
from .splitter import _write_part_store


def merge_stores(
    spark: SparkSession,
    src_dirs: list[str],
    out_dir: str,
    rebase: bool = True,
) -> SegmentIndex:
    """Merge N segment stores into one at ``out_dir``.

    ``rebase=True``: shift every source's docIDs by the running
    docBase (addIndexes semantics — sources keep their internal
    ordering, ids become disjoint). ``rebase=False``: require the
    sources' id spaces to already be disjoint and carry them verbatim.
    """
    if len(src_dirs) < 2:
        raise ValueError("merge needs at least two source stores")
    srcs = [SegmentIndex.open(spark, d) for d in src_dirs]
    first = srcs[0].manifest
    for s in srcs[1:]:
        for key in ("n_buckets", "block_size", "keep_positions",
                    "split_range"):
            if s.manifest.get(key) != first.get(key):
                raise ValueError(
                    f"source stores disagree on {key}: "
                    f"{s.manifest.get(key)} != {first.get(key)}"
                )
    blocks_parts = []
    docs_parts = []
    doc_base = 0
    for s in srcs:
        shift = doc_base if rebase else 0
        b = s.blocks
        d = s.docs
        if shift:
            b = b.withColumn(
                "first_doc", F.col("first_doc") + F.lit(shift)
            ).withColumn("last_doc", F.col("last_doc") + F.lit(shift))
            d = d.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
        blocks_parts.append(b)
        docs_parts.append(d)
        doc_base += int(s.manifest["max_doc"])
    merged_blocks = blocks_parts[0]
    merged_docs = docs_parts[0]
    for b, d in zip(blocks_parts[1:], docs_parts[1:]):
        merged_blocks = merged_blocks.unionByName(b)
        merged_docs = merged_docs.unionByName(d)
    os.makedirs(out_dir, exist_ok=True)
    return _write_part_store(
        spark, out_dir, merged_blocks, merged_docs, first
    )
