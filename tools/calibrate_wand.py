#!/usr/bin/env python
"""Measure the constants of the WAND cost model
(lucene_solr_spark/search/wand.py):

  1. _JOB_OVERHEAD_SEC — latency of one extra sequential Spark job on
     this master: median wall time of a trivial already-cached action
     (the walk's extra job is a decode+collect over ONE split, so the
     scheduling round-trip dominates its fixed part).
  2. _DECODE_POSTINGS_PER_SEC — throughput of the exhaustive one-shot
     decode+score+agg path, measured on real mid/high-df OR queries
     over the persisted segment store (postings counted from the same
     block metadata the query reads).
  3. _THETA_FRACTION — for each headline OR/AND query, the ratio of the
     realized seed threshold θ (k-th score of the best-bounded split)
     to that split's metadata bound; the model should use a LOW
     quantile so predicted savings under-estimate.
  4. _DRIVER_READ_BYTES_PER_SEC — compressed parquet bytes per second
     the driver reads with pyarrow (DriverParquet.read of the block
     columns of the mid/high-df terms' bucket directories, footers
     already cached, as on a warm query). With _JOB_OVERHEAD_SEC it
     prices the byte bound of a driver-side postings read
     (overhead_eq_bytes).
  5. driver decode rate (printed, not a constant) — postings per second
     the batched block decode (codec.decode_blocks) turns out over the
     same read, positions included, as a bounded fetch decodes them.

Usage: python tools/calibrate_wand.py [sf_dir] [k]
Numbers recorded in BENCH.md; override the first three at deploy time
via LSS_WAND_JOB_OVERHEAD_SEC / LSS_WAND_DECODE_RATE /
LSS_WAND_THETA_FRACTION.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    import pyarrow.compute as pc

    import __spark_entry__ as entry
    from lucene_solr_spark.index.codec import decode_blocks
    from lucene_solr_spark.search import wand
    from lucene_solr_spark.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    searcher = entry._seg_searcher(spark, sf_dir)
    index = searcher.index

    # -- 1. per-job fixed overhead ---------------------------------------
    spark.range(1_000).count()  # warm the scheduler
    lat = []
    for _ in range(7):
        t0 = time.perf_counter()
        spark.range(1_000, numPartitions=8).count()
        lat.append(time.perf_counter() - t0)
    job_overhead = statistics.median(lat)
    print(f"job_overhead_sec   median={job_overhead:.3f}  all={['%.3f' % x for x in lat]}")

    # -- query sets: mid/high-df terms from the store's term stats -------
    stats = (
        index.blocks.groupBy("term")
        .agg(F.sum("num_docs").alias("nd"))
        .orderBy(F.desc("nd"))
        .limit(40)
        .collect()
    )
    terms = [r["term"] for r in stats]
    or_sets = [terms[:2], terms[2:5], terms[10:14], terms[:8]]
    and_sets = [terms[:2], terms[4:7]]

    # -- 2. one-shot decode throughput -----------------------------------
    rates = []
    for ts in or_sets:
        meta = (
            index.blocks.where(F.col("term").isin(list(ts)))
            .agg(F.sum("num_docs"))
            .collect()[0][0]
        )
        t0 = time.perf_counter()
        # force the one-shot branch: predicted win impossible at frac 2.0
        old = wand._THETA_FRACTION
        wand._THETA_FRACTION = -1.0  # θ̂ < every bound -> no predicted saving
        try:
            wand.wand_or_search(searcher, list(ts), k).collect()
        finally:
            wand._THETA_FRACTION = old
        dt = time.perf_counter() - t0
        # subtract the two fixed jobs (metadata collect + scoring job)
        work = max(dt - 2 * job_overhead, 1e-3)
        rates.append(meta / work)
        print(
            f"one_shot terms={len(ts)} postings={meta} wall={dt:.3f}s "
            f"rate={meta / work:,.0f} postings/s"
        )
    decode_rate = statistics.median(rates)

    # -- 3. realized θ / best-bound ratio --------------------------------
    ratios = []
    for ts, fn in [(s, "or") for s in or_sets] + [
        (s, "and") for s in and_sets
    ]:
        obs: dict = {}
        orig = wand.seed_walk_predicted_win

        def spy(cands, _obs=obs, _orig=orig):
            _obs["best"] = cands[0][0] if cands else 0.0
            return True  # force the walk so θ is realized

        wand.seed_walk_predicted_win = spy
        try:
            if fn == "or":
                df = wand.wand_or_search(searcher, list(ts), k)
            else:
                df = wand.wand_and_search(searcher, list(ts), k)
            rows = df.collect()
        finally:
            wand.seed_walk_predicted_win = orig
        if len(rows) == k and obs.get("best"):
            theta = float(rows[-1]["score"])
            ratios.append(theta / obs["best"])
            print(
                f"theta_ratio {fn} terms={len(ts)} "
                f"theta={theta:.3f} best_bound={obs['best']:.3f} "
                f"ratio={theta / obs['best']:.3f}"
            )
    if ratios:
        lo = min(ratios)
        print(f"theta_fraction  min={lo:.3f} median={statistics.median(ratios):.3f}")

    # -- 4. driver parquet read rate -------------------------------------
    cols = ["term", "first_doc", "num_docs", "docs_bin", "tfs_bin",
            "norms_bin", "pos_bin"]
    subs = [f"postings/bucket={b}" for b in index.buckets_of(terms)]
    _, nbytes = index._parquet.row_groups(subs, terms, cols)  # footers
    reads = []
    for _ in range(7):
        t0 = time.perf_counter()
        index._parquet.read(subs, terms, cols, float("inf"))
        reads.append(time.perf_counter() - t0)
    read_rate = nbytes / statistics.median(reads)
    print(
        f"driver_read bytes={nbytes:,} median={statistics.median(reads):.4f}s "
        f"rate={read_rate / 1e6:.1f} MB/s"
    )

    # -- 5. driver decode rate of the batched kernel ---------------------
    table = index._parquet.read(subs, terms, cols, float("inf"))
    postings = int(pc.sum(table["num_docs"]).as_py() or 0)
    decodes = []
    for _ in range(7):
        t0 = time.perf_counter()
        decode_blocks(table, index.keep_positions)
        decodes.append(time.perf_counter() - t0)
    decode_s = statistics.median(decodes)
    print(
        f"driver_decode blocks={table.num_rows:,} postings={postings:,} "
        f"median={decode_s:.4f}s rate={postings / decode_s:,.0f} postings/s"
    )
    print(
        "\nsuggested constants:\n"
        f"  _JOB_OVERHEAD_SEC          = {job_overhead:.2f}\n"
        f"  _DECODE_POSTINGS_PER_SEC   = {decode_rate:,.0f}\n"
        f"  _DRIVER_READ_BYTES_PER_SEC = {read_rate:.3g}\n"
        + (
            f"  _THETA_FRACTION            = {min(ratios) * 0.8:.2f}"
            "  # 0.8 x observed min: conservative"
            if ratios
            else ""
        )
    )


if __name__ == "__main__":
    main()
