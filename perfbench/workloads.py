"""The two workloads, their closed-loop query client and their checks.

Both workloads drive only the engine's public API: ``build_segment_store``,
``SegmentIndex``, ``build_blooms``/``attach_blooms``, ``Searcher``,
``parse_lucene``, ``IncrementalIndexWriter``, ``assign_doc_ids`` and, for
single-process layer rates, ``tokenize_flat`` and ``decode_block``.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import pandas as pd
import pyspark.sql.functions as F

from lucene_solr_spark.analysis.tokenizer import tokenize_flat
from lucene_solr_spark.index import bloom as bloom_mod
from lucene_solr_spark.index import docids as docids_mod
from lucene_solr_spark.index.codec import decode_block
from lucene_solr_spark.index.segments import SegmentIndex, build_segment_store
from lucene_solr_spark.oracle_engine import OracleIndex
from lucene_solr_spark.search import wand as wand_mod
from lucene_solr_spark.search.executor import Searcher
from lucene_solr_spark.search.qparser import parse_lucene
from lucene_solr_spark.streaming import incremental as inc_mod
from lucene_solr_spark.streaming.incremental import IncrementalIndexWriter

from queries import FAMILIES, query_terms
from tracing import Tracer

K = 10
MIN_PASSES = 2  # over the query set, in a timed window
INGEST_BATCHES = 2


@dataclass
class Run:
    spark: object
    work: str
    corpus: str
    n_turns: int
    seconds: float
    seed: int
    tracer: Tracer
    queries: list[tuple[str, str]]
    served: list[dict] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    mismatches: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    phases: dict = field(default_factory=dict)  # wall seconds per step
    _t: float = field(default_factory=time.perf_counter)

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - self._t
        self._t = now


def narrow_split_range(n_turns: int) -> int:
    """Largest power-of-two split width giving >= 13 doc-range splits, so
    the store clears ``Searcher.MIN_ROUTE_SPLITS`` and queries route to
    the block-max pruned plans."""
    return 1 << ((n_turns // 12).bit_length() - 1)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------- serving


def _ms(t0: float) -> float:
    return 1000.0 * (time.perf_counter() - t0)


def serve(run: Run, searcher: Searcher, index, seconds: float | None,
          prune: bool, warmup: bool = False, queries=None) -> None:
    """Closed loop, one query in flight: parse, search, collect. Passes
    over ``queries`` (default: the run's query set, one query of every
    family): one pass when ``seconds`` is None, else whole passes until
    ``seconds`` have passed (at least ``MIN_PASSES``), so every family has
    the same number of samples. In a traced run every other query is
    traced, alternating from pass to pass. ``warmup`` queries are left out
    of the latency medians."""
    deadline = time.perf_counter() + (seconds or 0.0)
    passes = 0
    while passes < (1 if seconds is None else MIN_PASSES) or (
            seconds is not None and time.perf_counter() < deadline):
        for j, (family, text) in enumerate(queries or run.queries):
            traced = (run.tracer.enabled and not warmup
                      and (passes + j) % 2 == 1)
            rec = {"i": len(run.served), "family": family, "q": text,
                   "traced": traced, "warmup": warmup}
            run.attempted += 1
            try:
                _one_query(run, searcher, index, text, prune, rec)
            except Exception as e:  # a failed query is counted, not fatal
                run.failed += 1
                rec["error"] = f"{type(e).__name__}: {e}"
            run.served.append(rec)
        passes += 1


def _one_query(run, searcher, index, text, prune, rec) -> None:
    tr = run.tracer
    tr.active = rec["traced"]
    routed0 = tr.counts["wand.routed"]
    meta0 = tr.total_ms("wand.split_meta")
    jobs: dict = {}
    t0 = time.perf_counter()
    with tr.jobs(jobs if rec["traced"] else None):
        q = parse_lucene(text)
        t_parse = time.perf_counter()
        rows = searcher.search(q, K, prune=prune).collect()
        t_end = time.perf_counter()
    rec["ms"] = 1000.0 * (t_end - t0)
    rec["rows"] = [(int(r["doc_id"]), float(r["score"])) for r in rows]
    if not rec["traced"]:
        tr.active = False
        return
    rec["parse_us"] = 1e6 * (t_parse - t0)
    rec["search_ms"] = 1000.0 * (t_end - t_parse)
    rec["routed"] = tr.counts["wand.routed"] > routed0
    rec["split_meta_ms"] = tr.total_ms("wand.split_meta") - meta0
    rec.update(jobs)
    # prefixes of the same query, each materialized on its own
    terms = query_terms(q)
    positions = rec["family"] in ("phrase", "sloppy")
    tr.active = False
    t = time.perf_counter()
    index.term_stats(terms)
    rec["stats_ms"] = _ms(t)
    t = time.perf_counter()
    if isinstance(index, SegmentIndex):
        fetched = index.postings_for_terms(terms, want_positions=positions)
    else:
        fetched = index.postings.where(F.col("term").isin(terms))
    rec["postings"] = fetched.count()
    rec["fetch_ms"] = _ms(t)
    t = time.perf_counter()
    searcher.score(q).write.format("noop").mode("overwrite").save()
    rec["score_total_ms"] = _ms(t)
    if isinstance(index, SegmentIndex):
        rec["blocks"] = index.blocks.where(
            F.col("bucket").isin(index.buckets_of(terms))
            & F.col("term").isin(terms)
        ).count()


def topk(searcher: Searcher, text: str, prune: bool) -> list:
    rows = searcher.search(parse_lucene(text), K, prune=prune).collect()
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


# ---------------------------------------------------------------- checks


def _close(a: float, b: float, rel: float) -> bool:
    return abs(a - b) <= max(1e-9, rel * abs(b))


def same_topk(got: list, want: list, rel: float) -> bool:
    """Doc ids exact and scores within ``rel``, except that docs whose
    scores agree within ``rel`` may trade places (the last such group
    may also be cut differently at k)."""
    if len(got) != len(want):
        return False
    if not all(_close(g[1], w[1], rel) for g, w in zip(got, want)):
        return False
    groups: list[list[int]] = []
    for j in range(len(want)):
        if j and _close(want[j][1], want[j - 1][1], rel):
            groups[-1].append(j)
        else:
            groups.append([j])
    for g in groups[:-1]:
        if {got[j][0] for j in g} != {want[j][0] for j in g}:
            return False
    return True


def _oracle_topk(oracle: OracleIndex, family: str, text: str) -> list:
    q = parse_lucene(text)
    terms = query_terms(q)
    if family == "term":
        scores = oracle.query_term(terms[0])
    elif family == "and":
        scores = oracle.query_and(terms)
    elif family == "or":
        scores = oracle.query_or(terms)
    elif family == "phrase":
        scores = oracle.query_phrase(list(q.terms))
    else:
        scores = oracle.query_phrase_sloppy(list(q.terms), q.slop)
    return oracle.top_k(scores, K)


def check_against_oracle(run: Run, docs_dir: str, recs: list[dict],
                         rows_of=None) -> None:
    """Engine top-k vs the pure-Python ``OracleIndex`` over the same docs
    (float32 oracle vs double engine: scores within 1e-5)."""
    pdf = pd.read_parquet(docs_dir, columns=["doc_id", "text"])
    oracle = OracleIndex(pdf)
    for rec in recs:
        run.attempted += 1
        got = rows_of(rec) if rows_of else rec["rows"]
        want = _oracle_topk(oracle, rec["family"], rec["q"])
        if not same_topk(got, want, 1e-5):
            run.failed += 1
            run.mismatches.append(f"oracle: {rec['q']!r} got={got} want={want}")


# ---------------------------------------------------------------- layers


def tokenizer_rate(corpus: str) -> float:
    """Single-process ``tokenize_flat`` throughput (tokens/s) over the
    corpus text, batched like the build's Arrow batches."""
    texts = pd.read_parquet(corpus, columns=["text"])["text"]
    tokens = 0
    t0 = time.perf_counter()
    for s in range(0, len(texts), 5000):
        tokens += len(tokenize_flat(texts.iloc[s:s + 5000])["term"])
    return tokens / (time.perf_counter() - t0)


def decode_rate(index_dir: str) -> float:
    """Single-process ``decode_block`` throughput (postings/s, positions
    included) over the store's blocks."""
    blocks = pd.read_parquet(f"{index_dir}/postings")
    n = 0
    t0 = time.perf_counter()
    for r in blocks.itertuples(index=False):
        decode_block(r.first_doc, r.num_docs, r.docs_bin, r.tfs_bin,
                     r.norms_bin, r.pos_bin)
        n += int(r.num_docs)
    return n / (time.perf_counter() - t0)


def install_wrappers(run: Run, n_splits: int = 0) -> None:
    """Spans and counters around the engine's public calls (traced run)."""
    tr = run.tracer
    for mod in (docids_mod, inc_mod):
        tr.wrap(mod, "assign_doc_ids", "docids.assign")
    tr.wrap(SegmentIndex, "split_meta", "wand.split_meta")

    def routed(args, kwargs, out):
        tr.counts["wand.routed"] += 1
        stats = kwargs.get("stats_out")
        if stats is not None and tr.active:
            tr.counts["wand.splits_decoded"] += stats.get("splits_decoded", 0)
            tr.counts["wand.splits_total"] += n_splits

    for name in ("wand_or_search", "wand_and_search", "wand_phrase_search"):
        tr.wrap(wand_mod, name, "wand.route", routed)
    for name in ("wand_and_search", "wand_phrase_search"):
        _inject_stats_out(wand_mod, name)

    def bloom(args, kwargs, out):
        if tr.active and n_splits:
            tr.counts["bloom.calls"] += 1
            tr.counts["bloom.skipped"] += 1 - len(out) / n_splits

    tr.wrap(bloom_mod.BloomIndex, "splits_for", "bloom.splits_for", bloom)


def _inject_stats_out(mod, name: str) -> None:
    """Pass a ``stats_out`` dict to the engine's AND/phrase WAND paths so
    the decoded-split count reaches the tracer (outermost wrapper)."""
    inner = getattr(mod, name)

    def with_stats(*args, **kwargs):
        kwargs.setdefault("stats_out", {})
        return inner(*args, **kwargs)

    with_stats.__wrapped__ = inner
    setattr(mod, name, with_stats)


def _median(vals, default=0.0) -> float:
    vals = [v for v in vals if v is not None]
    return float(statistics.median(vals)) if vals else default


def _mean(vals, default=0.0) -> float:
    vals = [v for v in vals if v is not None]
    return float(statistics.fmean(vals)) if vals else default


def mix_ms(recs: list[dict]) -> float:
    """Mean over the five families of each family's median latency: every
    family weighs the same, and no family's samples straddle the median
    as they would in one median over the whole mix."""
    return statistics.fmean(
        _median(r["ms"] for r in recs if r["family"] == fam)
        for fam in FAMILIES
    )


def query_metrics(run: Run) -> None:
    ok = [r for r in run.served
          if "ms" in r and not r["traced"] and not r["warmup"]]
    run.e2e["query_ms"] = mix_ms(ok)
    for fam in FAMILIES:
        run.layer[f"executor.{fam}_p50_ms"] = _median(
            r["ms"] for r in ok if r["family"] == fam
        )
    if not run.tracer.enabled:
        return
    tr = [r for r in run.served if r["traced"] and "ms" in r]
    seg = [r for r in tr if "blocks" in r]
    run.layer.update({
        "qparser.parse_us": _median(r["parse_us"] for r in tr),
        "segments.term_stats_ms": _median(r["stats_ms"] for r in tr),
        "segments.fetch_decode_ms": _median(r["fetch_ms"] for r in tr),
        "segments.postings_decoded": _mean(r["postings"] for r in tr),
        "segments.blocks_read": _mean(r["blocks"] for r in seg),
        "executor.score_ms": _median(
            r["score_total_ms"] - r["stats_ms"] - r["fetch_ms"] for r in tr
        ),
        "executor.topk_ms": _median(
            r["search_ms"] - r["score_total_ms"] for r in tr
        ),
        "executor.jobs_per_query": _mean(r.get("jobs", 0) for r in tr),
        "executor.stages_per_query": _mean(r.get("stages", 0) for r in tr),
        "executor.tasks_per_query": _mean(r.get("tasks", 0) for r in tr),
        "executor.hits": _mean(len(r["rows"]) for r in tr),
        "wand.routed_share": _mean(1.0 if r["routed"] else 0.0 for r in tr),
        "wand.split_meta_ms": _mean(r["split_meta_ms"] for r in tr),
        "trace.query_ms": mix_ms(tr),
    })
    c = run.tracer.counts
    run.layer["wand.splits_decoded_ratio"] = (
        c["wand.splits_decoded"] / c["wand.splits_total"]
        if c["wand.splits_total"] else 0.0
    )
    run.layer["bloom.splits_skipped_ratio"] = (
        c["bloom.skipped"] / c["bloom.calls"] if c["bloom.calls"] else 0.0
    )
    run.layer["trace.overhead_ms"] = (
        run.layer["trace.query_ms"] - run.e2e["query_ms"]
    )


def index_metrics(run: Run, turns: int, wall_s: float,
                  index_dir: str) -> None:
    texts = pd.read_parquet(run.corpus, columns=["text"])["text"]
    text_size = sum(len(t.encode("utf-8")) for t in texts)
    run.e2e["index_turns_per_s"] = turns / wall_s
    run.e2e["index_bytes_per_text_byte"] = dir_bytes(index_dir) / text_size


# ---------------------------------------------------------------- workloads


def query_pruned(run: Run) -> None:
    """Narrow-split segment store with blooms; queries with prune=True.
    One untimed pass over the query set warms the JVM, the Python
    workers and the store's per-term caches; then timed passes."""
    spark, tr = run.spark, run.tracer
    index_dir = f"{run.work}/store"
    split_range = narrow_split_range(run.n_turns)
    n_splits = run.n_turns // split_range + 1
    install_wrappers(run, n_splits)
    build: dict = {}
    tr.active = True
    with tr.jobs(build):
        t0 = time.perf_counter()
        seg = build_segment_store(
            spark, spark.read.parquet(run.corpus), index_dir,
            split_range=split_range,
        )
        t1 = time.perf_counter()
        bloom_mod.build_blooms(seg)
        seg.attach_blooms()
        t2 = time.perf_counter()
    tr.active = False
    run.mark("build")
    if seg.stats.max_doc // seg.split_range + 1 < Searcher.MIN_ROUTE_SPLITS:
        raise RuntimeError("store has too few splits to route to pruning")
    index_metrics(run, seg.stats.max_doc, t2 - t0, index_dir)
    searcher = Searcher(seg)
    serve(run, searcher, seg, None, prune=True, warmup=True)
    run.mark("warmup")
    serve(run, searcher, seg, run.seconds, prune=True)
    run.mark("serve")
    # check: pruning is score-safe on one query (its family picked by the
    # seed), and every served top-k matches the oracle
    rec = run.served[len(run.queries) + run.seed % len(run.queries)]
    run.attempted += 1
    try:
        rec["exhaustive"] = topk(searcher, rec["q"], prune=False)
    except Exception as e:
        rec["exhaustive"] = [f"{type(e).__name__}: {e}"]
    if not same_topk(rec.get("rows", []), rec["exhaustive"], 1e-9):
        run.failed += 1
        run.mismatches.append(
            f"pruned vs exhaustive: {rec['q']!r} "
            f"got={rec.get('rows')} want={rec['exhaustive']}"
        )
    check_against_oracle(run, f"{index_dir}/docs",
                         [r for r in run.served if "rows" in r])
    run.mark("check")
    query_metrics(run)
    if tr.enabled:
        run.layer.update({
            "docids.assign_ms": tr.total_ms("docids.assign"),
            "tokenizer.tokens": float(seg.stats.sum_total_term_freq),
            "tokenizer.tokens_per_s": tokenizer_rate(run.corpus),
            "segments.build_jobs": float(build.get("jobs", 0)),
            "segments.blocks": float(sum(
                b["blocks"] for b in seg.manifest["buckets"].values()
            )),
            "segments.terms": float(seg.terms_stats.count()),
            "segments.postings_bytes": float(
                dir_bytes(f"{index_dir}/postings")),
            "segments.docs_bytes": float(dir_bytes(f"{index_dir}/docs")),
            "codec.decode_postings_per_s": decode_rate(index_dir),
            "bloom.build_s": t2 - t1,
        })


def ingest_mixed(run: Run) -> None:
    """Micro-batch appends through the incremental writer, a fresh reader
    serving a slice of the query set (one query, untimed) after each
    batch, then compaction, one untimed warm-up pass and timed passes on
    the merged segment."""
    spark, tr = run.spark, run.tracer
    index_dir = f"{run.work}/incremental"
    install_wrappers(run)
    writer = IncrementalIndexWriter(spark, index_dir)
    corpus = spark.read.parquet(run.corpus)
    batch_of = F.pmod(F.xxhash64("conv_id"), F.lit(INGEST_BATCHES))
    batch_s, open_ms = [], []
    for b in range(INGEST_BATCHES):
        tr.active = True
        t0 = time.perf_counter()
        writer.process_batch(corpus.where(batch_of == b), b)
        batch_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        reader = writer.reader()
        open_ms.append(_ms(t0))
        tr.active = False
        serve(run, Searcher(reader), reader, None, prune=True, warmup=True,
              queries=run.queries[b % len(run.queries):][:1])
    live = len(reader.manifest["segments"])
    run.mark("batches_and_reads")
    t0 = time.perf_counter()
    writer.compact()
    compact_s = time.perf_counter() - t0
    reader = writer.reader()
    searcher = Searcher(reader)
    first_after = len(run.served)
    serve(run, searcher, reader, None, prune=True, warmup=True)
    run.mark("compact_and_warmup")
    serve(run, searcher, reader, run.seconds, prune=True)
    run.mark("serve")
    index_metrics(run, reader.stats.max_doc, sum(batch_s), index_dir)
    recs = [r for r in run.served[first_after:] if "rows" in r]
    check_against_oracle(run, f"{index_dir}/docs", recs)
    run.mark("check")
    query_metrics(run)
    if tr.enabled:
        run.layer.update({
            "docids.assign_ms": tr.total_ms("docids.assign"),
            "tokenizer.tokens": float(reader.stats.sum_total_term_freq),
            "tokenizer.tokens_per_s": tokenizer_rate(run.corpus),
            "incremental.batch_ms": 1000.0 * _median(batch_s),
            "incremental.reader_open_ms": _median(open_ms),
            "incremental.segments_live": float(live),
            "incremental.compact_s": compact_s,
        })


WORKLOADS = {"query-pruned": query_pruned, "ingest-mixed": ingest_mixed}
