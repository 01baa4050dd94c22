"""Sort-on-write store + early-terminating top-k — the 100 TB sort path.

Lucene answers "top-k by a field" with TopFieldCollector
(lucene/core/src/java/org/apache/lucene/search/TopFieldCollector.java),
which still visits every matching doc. The classic index-time upgrade —
keep segments sorted by the field so collection can stop early — is
re-expressed here the way a Spark/columnar engine does it:

  WRITE  range-bucket the table on the sort key (explicit quantile
         bounds, not sampling), sort within buckets, write one parquet
         partition per bucket, and record per-bucket (bound, row-count,
         min/max) zone maps in a two-phase manifest — the same
         commit-point discipline as index/segments.py.

  READ   a top-k over the sort key opens buckets in key order and
         stops as soon as k predicate-matching rows are in hand:
         every unread bucket holds strictly worse sort keys (bucket i
         = {v: exactly i quantile bounds <= v}, so values never span
         buckets), making early termination score-safe, not
         approximate. Buckets are probed geometrically (1, 2, 4, ...)
         so a selective predicate costs O(log n_buckets) jobs, and the
         final sort runs over only the consumed buckets — visible in
         the plan as parquet PartitionFilters on ``sbucket``.

At 10^12 rows / 1000 buckets, "newest k matching docs" reads ~1/1000 of
the table instead of sorting the world; the write-side cost is one
range shuffle, paid once.
"""

from __future__ import annotations

import json
import os
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..functions.literals import const_array

MANIFEST = "sorted_manifest.json"


def build_sorted_store(
    df: DataFrame,
    sort_col: str,
    store_dir: str,
    n_buckets: int = 16,
) -> dict:
    """Range-bucket ``df`` on ``sort_col`` (ascending bucket ids; a
    descending query just reads buckets high-to-low), sort within each
    bucket, write partitioned parquet + a two-phase manifest with
    per-bucket zone maps. Returns the manifest dict."""
    # explicit quantile bounds (deterministic for a given input — no
    # sampling), n_buckets - 1 interior cut points
    probs = [i / n_buckets for i in range(1, n_buckets)]
    bounds = df.select(
        F.percentile_approx(
            F.col(sort_col).cast("double"), probs, 1_000_000
        ).alias("b")
    ).first()["b"]
    bounds = [float(b) for b in (bounds or [])]
    barr = const_array(bounds, "double")
    bucket = F.size(
        F.filter(barr, lambda b: b <= F.col(sort_col).cast("double"))
    ).cast("int")
    out = df.withColumn("sbucket", bucket)
    (
        out.repartition(F.col("sbucket"))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .partitionBy("sbucket")
        .parquet(os.path.join(store_dir, "data"))
    )
    zones = [
        {
            "bucket": int(r["sbucket"]),
            "rows": int(r["rows"]),
            "min": float(r["mn"]) if r["mn"] is not None else None,
            "max": float(r["mx"]) if r["mx"] is not None else None,
        }
        for r in out.groupBy("sbucket")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min(F.col(sort_col).cast("double")).alias("mn"),
            F.max(F.col(sort_col).cast("double")).alias("mx"),
        )
        .collect()
    ]
    manifest = {
        "sort_col": sort_col,
        "n_buckets": n_buckets,
        "bounds": bounds,
        "zones": sorted(zones, key=lambda z: z["bucket"]),
    }
    # two-phase publish (prepareCommit/finishCommit analogue): readers
    # never observe a half-written manifest
    tmp = os.path.join(store_dir, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(store_dir, MANIFEST))
    return manifest


def read_sorted_manifest(store_dir: str) -> dict:
    with open(os.path.join(store_dir, MANIFEST)) as f:
        return json.load(f)


def sorted_topk(
    spark: SparkSession,
    store_dir: str,
    k: int,
    where: Callable[[DataFrame], Column] | None = None,
    descending: bool = True,
    stats_out: dict | None = None,
    tie_col: str = "doc_id",
) -> DataFrame:
    """Early-terminating top-k over a sorted store: rank-identical to
    ``full_table.where(...).orderBy(sort desc, tie asc).limit(k)`` but
    opening buckets in key order and stopping once k matching rows are
    found — unread buckets cannot contain better sort keys.

    ``where`` takes the bucket DataFrame and returns a boolean Column
    (None = match all). ``stats_out`` receives ``buckets_total``,
    ``buckets_read`` and ``probe_jobs`` — the early-termination proof
    hooks used by the pytest."""
    man = read_sorted_manifest(store_dir)
    sort_col = man["sort_col"]
    data = spark.read.parquet(os.path.join(store_dir, "data"))
    # zone order: by bucket id, which IS key order by construction
    order = sorted(
        (z["bucket"] for z in man["zones"]), reverse=descending
    )
    consumed: list[int] = []
    matched = 0
    probe_jobs = 0
    step = 1
    i = 0
    while i < len(order) and matched < k:
        batch = order[i : i + step]
        d = data.where(F.col("sbucket").isin(batch))
        if where is not None:
            d = d.where(where(d))
        matched += d.count()
        probe_jobs += 1
        consumed.extend(batch)
        i += step
        step *= 2  # geometric: O(log n_buckets) jobs worst case
    if stats_out is not None:
        stats_out.update(
            buckets_total=len(order),
            buckets_read=len(consumed),
            probe_jobs=probe_jobs,
        )
    d = data.where(F.col("sbucket").isin(consumed))
    if where is not None:
        d = d.where(where(d))
    sort = (
        [F.desc(sort_col), F.asc(tie_col)]
        if descending
        else [F.asc(sort_col), F.asc(tie_col)]
    )
    return d.orderBy(*sort).limit(k).drop("sbucket")
