#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query-pruned --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones. The
line before it carries the host context, the generated query strings and
the per-query records, and the same record is written under
``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_TURNS = 10_000
CORPUS_PARTITIONS = 8
SETUP_REPS = 3
DRIVER_MEM = "1g"
UNITS = {
    "setup_s": "s",
    "index_turns_per_s": "turns/s",
    "index_bytes_per_text_byte": "ratio",
    "query_ms": "ms",
    "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "docids.assign_ms": "ms",
    "tokenizer.tokens_per_s": "tokens/s",
    "tokenizer.tokens": "count",
    "segments.build_jobs": "count",
    "segments.blocks": "count",
    "segments.terms": "count",
    "segments.postings_bytes": "bytes",
    "segments.docs_bytes": "bytes",
    "segments.term_stats_ms": "ms",
    "segments.fetch_decode_ms": "ms",
    "segments.postings_decoded": "count",
    "segments.blocks_read": "count",
    "codec.decode_postings_per_s": "postings/s",
    "bloom.build_s": "s",
    "bloom.splits_skipped_ratio": "ratio",
    "wand.routed_share": "ratio",
    "wand.split_meta_ms": "ms",
    "wand.splits_decoded_ratio": "ratio",
    "executor.term_p50_ms": "ms",
    "executor.and_p50_ms": "ms",
    "executor.or_p50_ms": "ms",
    "executor.phrase_p50_ms": "ms",
    "executor.sloppy_p50_ms": "ms",
    "executor.score_ms": "ms",
    "executor.topk_ms": "ms",
    "executor.jobs_per_query": "count",
    "executor.stages_per_query": "count",
    "executor.tasks_per_query": "count",
    "executor.hits": "count",
    "qparser.parse_us": "us",
    "incremental.batch_ms": "ms",
    "incremental.reader_open_ms": "ms",
    "incremental.segments_live": "count",
    "incremental.compact_s": "s",
    "trace.query_ms": "ms",
    "trace.overhead_ms": "ms",
}


def _engine_available() -> str | None:
    """None when the engine package and tools/ come from this checkout."""
    for name in ("lucene_solr_spark", "tools"):
        if not os.path.isdir(os.path.join(ROOT, name)):
            return f"{name}/ not found under {ROOT}"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import bench_scaling  # noqa: F401
        import lucene_solr_spark
    except ImportError as e:
        return str(e)
    if not os.path.abspath(lucene_solr_spark.__file__).startswith(ROOT):
        return f"lucene_solr_spark imported from {lucene_solr_spark.__file__}"
    return None


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def _stop_spark(spark) -> None:
    """Stop the session and the JVM the session started; wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _noop(batches):
    for b in batches:
        yield b[:1]


def set_up(spark, corpus: str, n_turns: int, seed: int) -> float:
    """One set-up pass: Python-worker warm-up job, then the seeded corpus
    generated by ``transcripts_distributed`` and written to parquet."""
    from lucene_solr_spark.corpus import transcripts_distributed

    t0 = time.perf_counter()
    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInPandas(_noop, "id long").count()
    transcripts_distributed(
        spark, n_turns, seed=seed, partitions=CORPUS_PARTITIONS
    ).write.mode("overwrite").parquet(corpus)
    return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=N_TURNS,
                    help="corpus size (the smoke test uses a tiny one)")
    args = ap.parse_args(argv)

    missing = _engine_available()
    if missing:
        print(f"perfbench: engine not available: {missing}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    # every file Spark, the JVM and Python write stays inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/tmp"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    )
    # a fixed-size driver heap, so the JVM's share of peak RSS does not
    # hang on when the collector chose to grow the heap
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    )
    # Python workers import the engine from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import bench_scaling
    from queries import FAMILIES, QueryGenerator
    from tracing import Tracer
    from workloads import WORKLOADS, Run

    cores = len(os.sched_getaffinity(0))
    probe_before = bench_scaling.probe_capacity(cores)
    jiffies_before = _cpu_jiffies()

    from lucene_solr_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=max(cores, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    corpus = f"{work}/corpus"
    reps = [set_up(spark, corpus, args.turns, args.seed)
            for _ in range(SETUP_REPS)]
    setup_s = session_s + statistics.median(reps)

    gen = QueryGenerator(args.seed, args.turns, CORPUS_PARTITIONS)
    run = Run(
        spark=spark, work=work, corpus=corpus, n_turns=args.turns,
        seconds=args.seconds, seed=args.seed, tracer=Tracer(spark, bool(args.trace)),
        queries=gen.queries(len(FAMILIES), stream=1),
    )
    WORKLOADS[args.workload](run)
    run.tracer.restore()
    run.mark("workload")

    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    rss_mb = {"python": _vm_hwm_mb(os.getpid()), "jvm": _vm_hwm_mb(jvm_pid)}
    peak_rss_mb = sum(rss_mb.values())
    spark_version = spark.version
    _stop_spark(spark)
    run.mark("stop")
    steal = [a - b for a, b in zip(_cpu_jiffies(), jiffies_before)]
    probe_after = bench_scaling.probe_capacity(cores)
    run.mark("probe_after")

    run.e2e.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb)
    if args.trace:
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
                   for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u}
                   for k, u in UNITS.items()}
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "n_turns": args.turns,
        "host": {
            "nproc": cores,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark_version": spark_version,
            "master": f"local[{cores}]",
            "probe_capacity_before": probe_before,
            "probe_capacity_after": probe_after,
            # share of CPU time the hypervisor gave to other guests
            "cpu_steal_share": steal[0] / max(1, steal[1]),
        },
        "setup_reps_s": [session_s] + reps,
        "peak_rss_mb": rss_mb,
        "phases_s": run.phases,
        "error_rate": run.failed / max(1, run.attempted),
        "mismatches": run.mismatches,
        "all_metrics": {**run.e2e, **run.layer},
        "queries": run.served,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(context, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
