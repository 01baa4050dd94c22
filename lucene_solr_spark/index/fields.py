"""Multi-field indexing with per-field norms, stats, and similarities.

The reference's core data model is a document of N analyzed fields,
each with its OWN document length, norm byte, docFreq/totalTermFreq and
average field length (reference: per-field inversion state
lucene/core/src/java/org/apache/lucene/index/FieldInvertState.java:29-36,
Document as a list of IndexableFields
lucene/core/src/java/org/apache/lucene/document/Document.java:35-60,
per-field Similarity via PerFieldSimilarityWrapper). BM25 over
``title:scan`` therefore uses title's df, title's dl and title's avgdl
— NOT the body's.

Spark-first shape:
  - ONE mapInPandas pass over the doc batch inverts every field (the
    corpus is scanned once, not once per field — at 100 TB an N-pass
    build would be N full scans);
  - postings carry a ``field`` column; per-field stats are one extra
    groupBy key (partial+final agg, skew-safe like the single-field
    build);
  - ``field_view(field)`` exposes a filtered single-field
    ``InvertedIndex`` facade, so the entire existing query stack
    (Searcher, phrase, spans, WAND, handler) runs per-field unchanged
    — the filter ``field = 'title'`` is a pushed-down predicate.

edismax qf/pf composition lives in search/fielded.py.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, Mapping

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..analysis.tokenizer import invert_batch
from .builder import CollectionStats, InvertedIndex
from .norms import encode_norm

FIELDED_POSTINGS_SCHEMA = StructType(
    [
        StructField("field", StringType(), False),
        StructField("doc_id", LongType(), False),
        StructField("term", StringType(), False),
        StructField("tf", IntegerType(), False),
        StructField("positions", ArrayType(IntegerType(), False), True),
        StructField("dl", IntegerType(), False),
        StructField("norm_byte", IntegerType(), False),
    ]
)


@dataclass
class FieldedIndex:
    """Queryable multi-field index: one postings table with a ``field``
    column, per-(field, term) stats, per-field collection stats."""

    spark: SparkSession
    docs: DataFrame
    postings: DataFrame  # FIELDED_POSTINGS_SCHEMA
    terms_stats: DataFrame  # (field, term, df, ttf)
    stats: dict[str, CollectionStats]

    @property
    def fields(self) -> list[str]:
        return list(self.stats.keys())

    def field_view(self, field: str) -> InvertedIndex:
        """Single-field facade: the whole existing Searcher stack runs
        over it unchanged (the field predicate prunes the postings
        scan)."""
        if field not in self.stats:
            raise KeyError(f"unknown field {field!r}; have {self.fields}")
        return InvertedIndex(
            spark=self.spark,
            docs=self.docs,
            postings=self.postings.where(
                F.col("field") == F.lit(field)
            ).drop("field"),
            terms_stats=self.terms_stats.where(
                F.col("field") == F.lit(field)
            ).drop("field"),
            stats=self.stats[field],
        )


@dataclass
class FieldedSegmentIndex:
    """Per-field persisted segment stores — the PerFieldPostingsFormat
    analogue (lucene/core/.../codecs/perfield/PerFieldPostingsFormat.java):
    each field's postings live in their own block-encoded store, so a
    fielded query prunes to its field's buckets only. Duck-compatible
    with FieldedIndex for FieldedSearcher (fields + field_view)."""

    stores: dict[str, object]  # field -> segments.SegmentIndex

    @property
    def fields(self) -> list[str]:
        return list(self.stores.keys())

    def field_view(self, field: str):
        if field not in self.stores:
            raise KeyError(f"unknown field {field!r}; have {self.fields}")
        return self.stores[field]


def write_fielded_segments(
    index: FieldedIndex,
    base_dir: str,
    n_buckets: int = 16,
    keep_positions: bool = True,
) -> FieldedSegmentIndex:
    """Persist every field of ``index`` as its own segment store under
    ``base_dir/<field>/`` (delta-varint blocks, block-max metadata,
    segments_N manifest, kill-and-resume — everything write_segments
    gives the single-field path). With ``cache=True`` on the build, the
    corpus was inverted once; each field's store flushes the cached
    postings, field-pruned, as partial runs into write_segments' one
    shuffle-and-merge, then its stats-and-commit tail."""
    import os

    from .segments import write_segments

    stores = {
        f: write_segments(
            index.field_view(f),
            os.path.join(base_dir, f),
            n_buckets=n_buckets,
            keep_positions=keep_positions,
        )
        for f in index.fields
    }
    return FieldedSegmentIndex(stores)


def _empty_fielded() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "field": pd.Series([], dtype="object"),
            "doc_id": pd.Series([], dtype="int64"),
            "term": pd.Series([], dtype="object"),
            "tf": pd.Series([], dtype="int32"),
            "positions": pd.Series([], dtype="object"),
            "dl": pd.Series([], dtype="int32"),
            "norm_byte": pd.Series([], dtype="int32"),
        }
    )


def _invert_fields(
    batches: Iterator[pd.DataFrame],
    fields: list[str],
    with_positions: bool,
    analyzer,
) -> Iterator[pd.DataFrame]:
    """DWPT analogue over N fields: every field of the batch is
    inverted from the SAME in-memory Arrow batch — one corpus scan.

    ``analyzer`` may be a single callable for every field or a mapping
    field -> callable (PerFieldAnalyzerWrapper, lucene/analysis/common/
    .../miscellaneous/PerFieldAnalyzerWrapper.java:55-70: wrapped
    getWrappedAnalyzer falls back to the default for unmapped fields —
    a missing key here falls back to the default analyzer too)."""
    per_field = isinstance(analyzer, Mapping)
    for pdf in batches:
        outs = []
        for fname in fields:
            flat = invert_batch(
                pdf["doc_id"],
                pdf[fname],
                with_positions=with_positions,
                analyzer=(
                    analyzer.get(fname) if per_field else analyzer
                ),
            )
            if not len(flat):
                continue
            flat.insert(0, "field", fname)
            flat["norm_byte"] = encode_norm(
                flat["dl"].to_numpy()
            ).astype("int32")
            outs.append(flat)
        yield pd.concat(outs, ignore_index=True) if outs else (
            _empty_fielded()
        )


# FieldType.getPositionIncrementGap default for multiValued text
# fields (solr/example/solr/collection1/conf/schema.xml text fields)
POSITION_INCREMENT_GAP = 100


def build_fielded_index(
    spark: SparkSession,
    docs: DataFrame,
    field_cols: Mapping[str, str] | list[str],
    doc_id_col: str = "doc_id",
    order_cols: list[str] | None = None,
    cache: bool = False,
    positions: bool = True,
    analyzer=None,
) -> FieldedIndex:
    """Build a multi-field inverted index.

    ``field_cols``: mapping of index-field name -> source column (or a
    list of column names indexed under their own names). Every listed
    column is analyzed with per-field dl/norms/stats.

    copyField: a mapping VALUE may itself be a list/tuple of source
    columns — the destination field indexes every source value with
    Solr's positionIncrementGap between values (solr/core/src/java/org/
    apache/solr/schema/IndexSchema.java copyField + FieldType
    getPositionIncrementGap, default 100): a phrase never matches
    across a value boundary, while df/dl/norms treat the values as one
    field. Expressed compositionally — values are joined by 100
    stop-filtered filler tokens, so stop removal leaves exactly the
    100-position hole (requires the default stop-filtering analyzer).
    """
    if not isinstance(field_cols, Mapping):
        field_cols = {c: c for c in field_cols}
    if not field_cols:
        raise ValueError("field_cols must name at least one field")

    if doc_id_col not in docs.columns:
        from .docids import assign_doc_ids

        order_cols = order_cols or ["conv_id", "turn_idx"]
        docs = assign_doc_ids(docs, order_cols, doc_id_col)

    fields = list(field_cols.keys())

    # positionIncrementGap filler: 100 stopword tokens between copied
    # values; the stop filter drops them leaving the position hole
    gap_sep = " " + "the " * POSITION_INCREMENT_GAP

    def _field_expr(col):
        if isinstance(col, (list, tuple)):
            return F.concat_ws(
                gap_sep, *[F.col(c).cast("string") for c in col]
            )
        return F.col(col).cast("string")

    src = docs.select(
        F.col(doc_id_col).cast("long").alias("doc_id"),
        *[
            _field_expr(col).alias(fname)
            for fname, col in field_cols.items()
        ],
    )
    postings = src.mapInPandas(
        lambda it: _invert_fields(it, fields, positions, analyzer),
        FIELDED_POSTINGS_SCHEMA,
    )

    # per-(field, term) df/ttf: partial+final hash agg, one shuffle
    terms_stats = postings.groupBy("field", "term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("ttf")
    )

    if cache:
        postings = postings.cache()
        terms_stats = terms_stats.cache()

    max_doc = docs.count()
    # per-field sumTotalTermFreq in ONE tiny aggregate (rows = n_fields)
    ttf_rows = postings.groupBy("field").agg(
        F.sum("tf").alias("sttf")
    ).collect()
    sttf = {r["field"]: int(r["sttf"] or 0) for r in ttf_rows}
    stats = {
        f: CollectionStats(
            max_doc=max_doc, sum_total_term_freq=sttf.get(f, 0)
        )
        for f in fields
    }
    return FieldedIndex(
        spark=spark,
        docs=docs,
        postings=postings,
        terms_stats=terms_stats,
        stats=stats,
    )
