#!/usr/bin/env python
"""Prove the WAND cost model never makes a query slower than its
exhaustive twin: time, on the SAME persisted segment store,

  exhaustive  — searcher.search(q, prune=False).collect() (full decode)
  auto        — searcher.search(q).collect() (cost-model routed:
                one-shot candidate decode or seed-then-prune walk,
                whichever the block metadata predicts wins)

for the headline OR / AND / phrase shapes. The round-4 verdict's
done-criterion: no auto-routed WAND query slower than its exhaustive
twin at sf0.01 AND sf0.1 (beyond run-to-run noise).

Usage: python tools/bench_wand_twins.py [sf_dir] [reps]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    import __spark_entry__ as entry
    from lucene_solr_spark.search.query import And, Or, PhraseQuery
    from lucene_solr_spark.session import get_spark

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    s = entry._seg_searcher(spark, sf_dir)

    shapes = [
        ("or2", Or("scan", "merge")),
        ("or4", Or("scan", "merge", "key", "order")),
        ("and2", And("scan", "merge")),
        ("and3", And("scan", "merge", "key")),
        ("phrase", PhraseQuery(["merge", "commit"])),
    ]

    def t(q, prune: bool) -> float:
        """Median wall time of search(q, 10).collect(): building the
        top-k and reading its rows, as perfbench times a query."""
        xs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            s.search(q, 10, prune=prune).collect()
            xs.append(time.perf_counter() - t0)
        return statistics.median(xs)

    print(f"sf_dir={sf_dir} reps={reps} (median)")
    worst = 0.0
    for name, q in shapes:
        # warm both paths once so neither pays first-run JIT/cache
        s.search(q, 10, prune=False).collect()
        s.search(q, 10).collect()
        ex = t(q, prune=False)
        au = t(q, prune=True)
        ratio = au / ex if ex > 0 else float("inf")
        worst = max(worst, ratio)
        print(
            f"  {name:7s} exhaustive={ex:6.3f}s auto={au:6.3f}s "
            f"auto/exhaustive={ratio:.2f}"
        )
    print(f"worst auto/exhaustive ratio: {worst:.2f}")


if __name__ == "__main__":
    main()
