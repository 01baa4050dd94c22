"""Scalable dense docID assignment — Lucene insertion-order docIDs
(segment docBase + local id, lucene/core/.../index/
AtomicReaderContext.java:30-42) re-expressed without a single-partition
window.

A naive ``row_number() OVER (ORDER BY ...)`` collapses to one partition.
Instead:

  1. derive P-1 *literal* range bounds on the leading order column from a
     fixed-seed sample (driver-side, tiny) — deterministic, unlike the
     RangePartitioner's per-job sampling, so no persist() is needed to
     pin the layout between passes;
  2. bucket = number of bounds below the key (a codegen'd WHEN-chain);
  3. one light agg job counts rows per bucket -> cumulative docBases
     (the segments_N manifest analogue);
  4. doc_id = docBase[bucket] + row_number() over (partition by bucket
     order by order_cols) - 1 — a PER-BUCKET window, fully parallel,
     entirely JVM-side (no Python stage: keeping the numbering out of
     Arrow halves the UDF boundary traffic for the downstream tokenizer).

Skew note: a single hot leading key lands in one bucket/window task —
identical to what the range partitioner would do; bounds quality only
affects balance, never correctness (order within and across buckets is
total because bucketing is monotone in the key).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.literals import const_array

_SAMPLE_CAP = 100_000


def _range_bounds(df: DataFrame, key: str, parts: int) -> list:
    """Deterministic driver-side cut points for the leading order column."""
    sample = [
        r[0]
        for r in df.select(key)
        .sample(fraction=0.05, seed=42)
        .limit(_SAMPLE_CAP)
        .collect()
    ]
    if len(sample) < parts * 4:
        sample = [r[0] for r in df.select(key).limit(_SAMPLE_CAP).collect()]
    sample.sort()
    if not sample:
        return []
    bounds = {
        sample[(len(sample) * (i + 1)) // parts] for i in range(parts - 1)
    }
    return sorted(bounds)


def assign_doc_ids(
    df: DataFrame,
    order_cols: list[str],
    doc_id_col: str = "doc_id",
    partitions: int | None = None,
) -> DataFrame:
    spark = df.sparkSession
    parts = partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    key = order_cols[0]
    bounds = _range_bounds(df, key, parts)

    bkt = F.lit(0)
    for bd in bounds:
        bkt = bkt + F.when(F.col(key) > F.lit(bd), 1).otherwise(0)
    bucketed = df.withColumn("_bkt", bkt.cast("int"))

    # docBase per bucket from one cheap count job (scan + WHEN-chain agg)
    counts = {
        int(r["_bkt"]): int(r["cnt"])
        for r in bucketed.groupBy("_bkt").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    bases = []
    acc = 0
    for b in range(len(bounds) + 1):
        bases.append(acc)
        acc += counts.get(b, 0)

    return _number_buckets(bucketed, bases, order_cols, doc_id_col)


def _number_buckets(
    bucketed: DataFrame,
    bases: list[int],
    order_cols: list[str],
    doc_id_col: str,
) -> DataFrame:
    """doc_id = bases[_bkt] + row_number() within the bucket - 1. The
    bases are bigint literals, so the sum is long arithmetic: ids past
    2^31 never pass through an int."""
    base_arr = const_array(bases, "bigint")
    w = Window.partitionBy("_bkt").orderBy(*order_cols)
    return bucketed.withColumn(
        doc_id_col,
        F.element_at(base_arr, F.col("_bkt") + 1) + F.row_number().over(w) - 1,
    ).drop("_bkt")
