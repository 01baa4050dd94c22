"""Training-data pipeline operators beyond dedup/ANN: the steps a
100 TB LLM-pretraining corpus runs between raw crawl and tokenized
shards. All Spark-first — Catalyst array ops for the per-doc work,
broadcast joins for small reference sets, one narrow applyInPandas for
the genuinely sequential step (bin packing).

  - decontaminate: n-gram overlap vs a benchmark/eval set (the GPT-3
    appendix-C / Dolma-style 13-gram decontamination check, scaled to
    this corpus's ~54-token docs). Eval n-grams are tiny vs the corpus
    -> broadcast join; corpus side is one projection + groupBy(doc).
  - chunk_dedup: paragraph-level exact dedup generalized to fixed
    non-overlapping token windows (this corpus has no \\n\\n paragraph
    breaks); finds chunks shared across docs. One shuffle on the chunk
    hash, like exact doc dedup.
  - stratified_sample: deterministic per-stratum sampling via an md5
    threshold on the doc id — replayable (never rand()), exactly the
    language-rebalancing step of a multilingual pretraining mix.
  - pack_next_fit: greedy next-fit packing of docs into fixed
    token-budget bins (context-window packing before tokenization).
    Sequential by construction inside a bucket; buckets are hash
    partitions so the packing itself is embarrassingly parallel across
    buckets. Per-bucket work is a numpy loop over token COUNTS (ints,
    not text) — thousands of docs/bucket cost microseconds.

Reference analogue: Solr's ingest-time dedup lives in
solr/core/src/java/org/apache/solr/update/processor/
SignatureUpdateProcessorFactory.java; these operators extend that
ingest-hygiene stage to the checks an LLM corpus needs.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _gram_rows(
    df: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """(id, gram) distinct rows: [a-z0-9]+ tokens -> space-joined
    n-grams. Pure Catalyst (regexp_extract_all -> transform ->
    array_distinct -> explode); map-side only."""
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("__toks") - (n - 1), F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at("__toks", i + j) for j in range(n)]
        ),
    )
    return (
        df.withColumn("__toks", toks)
        .where(F.size("__toks") >= n)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(grams)).alias("gram"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: (doc_id, n_hits) for every corpus doc
    sharing >= 1 token n-gram with the eval set (GPT-3 Appendix C /
    Dolma's 13-gram rule; n is a parameter because this corpus's docs
    average ~54 tokens). n_hits counts DISTINCT contaminated n-grams
    per doc.

    Scale shape: the eval side is a benchmark suite — thousands of
    docs, not billions — so its distinct n-gram set is broadcast; the
    corpus side is one scan -> n-gram projection -> broadcast semi
    join -> groupBy(doc_id). No corpus-sized shuffle."""
    eval_grams = (
        _gram_rows(eval_set, n, text_col, id_col)
        .select("gram")
        .distinct()
    )
    hits = _gram_rows(corpus, n, text_col, id_col).join(
        F.broadcast(eval_grams), "gram"
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )


def chunk_dedup(
    df: DataFrame,
    chunk_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paragraph-level exact dedup over fixed non-overlapping
    ``chunk_tokens``-token windows: (chunk_hash, n_docs, n_occurrences,
    min_doc_id) for every chunk text appearing in more than one doc.
    The trailing partial window is kept (real paragraphs are ragged).

    One shuffle on the chunk hash — the same shape as exact doc-level
    dedup, just at sub-document granularity (what C4/Dolma run to strip
    boilerplate lines shared across pages)."""
    toks = F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
    )
    nchunks = F.ceil(F.size("__toks") / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda c: F.concat_ws(
            " ",
            F.slice("__toks", c * chunk_tokens + 1, chunk_tokens),
        ),
    )
    rows = (
        df.withColumn("__toks", toks)
        .where(F.size("__toks") > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(chunks).alias("chunk"),
        )
    )
    return (
        rows.groupBy(F.md5("chunk").alias("chunk_hash"))
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic per-stratum downsampling: keep a row iff
    md5(doc_id) mod 10000 < rate*10000 for its stratum's rate —
    replayable across runs/clusters (never rand()), the language/domain
    rebalancing step of a pretraining mix. Unlisted strata get
    ``default_rate``. Pure map-side filter; Catalyst pushes it into
    the scan."""
    h = _bucket_hash(id_col)
    rate_map = F.create_map(
        *[x for kv in rates.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    rate = F.coalesce(
        rate_map[F.col(stratum_col)], F.lit(float(default_rate))
    )
    return df.where(h < (rate * 10000).cast("long"))


def _bucket_hash(id_col: str):
    """md5-mod-10000 replayable sampling bucket — the ONE hash shared
    by stratified_sample / quota_sample / domain_mix. The DuckDB twin
    (oracles.py::_hash60_sql) mirrors this exact expression; keep them
    in lockstep."""
    return (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % 10000
    )


def quota_sample(
    df: DataFrame,
    quota: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    prefilter_margin: float = 0.0,
) -> DataFrame:
    """Domain-balanced quota sampling: keep EXACTLY min(quota, |domain|)
    rows per domain — the fixed-budget counterpart of
    :func:`stratified_sample` (the "N docs per domain" balancing step
    of a pretraining mix, e.g. FineWeb's per-dump budgets). Selection
    is the quota lowest md5(id) values per domain (ties by id), so the
    sample is uniform-random yet replayable across runs and clusters.

    Scale shape: a naive ``row_number() over (partition by domain)``
    sorts EVERY row of a 10^12-row corpus. With ``prefilter_margin``
    = m > 0, a two-phase exact variant runs instead: (1) one tiny
    count aggregate per domain (broadcast-sized); (2) a map-side hash
    threshold keeps ~quota*(1+m) candidates per domain — the same
    md5-mod-10000 cut ``stratified_sample`` uses, so Catalyst pushes
    it into the scan; (3) the window runs over candidates only. The
    threshold keeps every row whose hash bucket is <= the quantile
    bound, which can only ADMIT extra candidates, never exclude a
    true top-quota row, UNLESS the margin underestimates bucket skew —
    so a per-domain candidate-count check falls back to the full
    window for any domain that came up short, INCLUDING domains whose
    cut admitted zero candidates (exactness is unconditional; the
    margin only tunes how much work phase 3 does).
    """
    d = df.withColumn("_h", _bucket_hash(id_col))
    w = Window.partitionBy(domain_col).orderBy("_h", id_col)

    def exact(frame: DataFrame) -> DataFrame:
        return (
            frame.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= quota)
            .drop("_rn", "_h")
        )

    if prefilter_margin <= 0:
        return exact(d)

    counts = d.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("_n_dom")
    )
    # hash cut admitting ~quota*(1+m) rows out of n_dom uniform buckets
    cut = F.least(
        F.lit(10000).cast("long"),
        F.ceil(
            F.lit(10000.0)
            * F.lit(quota * (1.0 + prefilter_margin))
            / F.col("_n_dom")
        ).cast("long"),
    )
    cand = d.join(
        F.broadcast(counts.withColumn("_cut", cut)), domain_col
    ).where(F.col("_h") < F.col("_cut"))
    # one pass feeds both the shortfall check and the final window
    cand = cand.localCheckpoint()
    # exactness guard: any domain whose candidate pool is smaller than
    # its full quota (margin lost to bucket skew) re-runs unfiltered.
    # Derived from COUNTS, not cand: a domain whose cut admitted zero
    # candidates is absent from cand entirely and must still re-run.
    short = (
        counts.join(
            cand.groupBy(domain_col).agg(
                F.count(F.lit(1)).alias("_n_cand")
            ),
            domain_col,
            "left",
        )
        .where(
            F.coalesce(F.col("_n_cand"), F.lit(0))
            < F.least(F.lit(quota), F.col("_n_dom"))
        )
        .select(domain_col)
    )
    ok = exact(
        cand.join(F.broadcast(short), domain_col, "left_anti").drop(
            "_n_dom", "_cut"
        )
    )
    redo = exact(d.join(F.broadcast(short), domain_col, "left_semi"))
    return ok.unionByName(redo)


def tool_bigrams(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    tool_col: str = "tool",
    top_k: int = 20,
    skip: tuple[str, ...] = ("none",),
) -> DataFrame:
    """Agent-trace tool-sequence mining: the most frequent consecutive
    tool-call pairs within conversations — the transcript analogue of
    collocation mining, used to audit agent behavior (which tool
    follows which) across a trace corpus. Consecutive = next non-null
    tool call in turn order; turns without a tool call (or whose tool
    is in ``skip``) are transparent.

    Scale shape: one window (``lead`` over conversations — groups are
    bounded by turns-per-conversation, never corpus-sized) + one
    count aggregate; no arrays are materialized per conversation."""
    w = Window.partitionBy(conv_col).orderBy(turn_col)
    t = df.where(F.col(tool_col).isNotNull())
    if skip:  # isin() of nothing is an error, not an empty filter
        t = t.where(~F.col(tool_col).isin(*skip))
    pairs = t.withColumn("_next", F.lead(tool_col).over(w)).where(
        F.col("_next").isNotNull()
    )
    return (
        pairs.groupBy(
            F.col(tool_col).alias("first_tool"),
            F.col("_next").alias("next_tool"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "first_tool", "next_tool")
        .limit(top_k)
    )


def turn_latency_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    turn_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    tool_col: str = "tool",
    responder: str = "assistant",
) -> DataFrame:
    """Agent-trace latency analytics: per-tool response-time stats for
    ``responder`` turns — latency = seconds between a turn's event
    time and the previous turn's in the same conversation. The audit
    query of an agent-transcript corpus ("which tool is slow"), and
    the op that exercises the transcript shape's event-time column.

    Scale shape: one conversation-bounded lag() window + one count/
    avg/max aggregate over (tool) — group count is bounded by the tool
    vocabulary, never the corpus."""
    w = Window.partitionBy(conv_col).orderBy(turn_col)
    lat = (
        F.col(ts_col).cast("long")
        - F.lag(F.col(ts_col).cast("long")).over(w)
    )
    t = df.withColumn("_lat", lat).where(
        (F.col(role_col) == responder) & F.col("_lat").isNotNull()
    )
    return (
        t.groupBy(F.coalesce(F.col(tool_col), F.lit("(none)")).alias("tool"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.avg("_lat").alias("avg_latency_sec"),
            F.max("_lat").cast("long").alias("max_latency_sec"),
        )
        .orderBy("tool")
    )


# docs longer than the budget get a bin of their own (next-fit never
# splits a doc; splitting is the tokenizer's job downstream)
def pack_next_fit(
    df: DataFrame,
    budget: int = 256,
    n_buckets: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window packing: assign each doc a (bucket, bin_idx) so
    that scanning a bucket's docs in id order and starting a new bin
    whenever the running token total would exceed ``budget`` gives
    exactly these bins (greedy NEXT-FIT — the streaming-friendly
    packing LLM pipelines use before tokenization; first-fit-decreasing
    packs tighter but needs global state).

    Distribution: bucket = doc_id mod n_buckets, so packing is
    independent per bucket and each bucket's sequential walk touches
    only token COUNTS (one int per doc). applyInPandas per bucket;
    at 100 TB, n_buckets scales with the cluster and the per-bucket
    walk stays a cheap numpy loop over ints.

    Output: (doc_id, bucket, bin_idx, n_tokens), one row per doc.
    """
    toks = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        (F.col(id_col) % n_buckets).cast("int").alias("bucket"),
        toks.cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        bin_idx, fill = 0, 0
        for t in pdf["n_tokens"].to_numpy():
            if fill > 0 and fill + t > budget:
                bin_idx += 1
                fill = 0
            fill += int(t)
            bins.append(bin_idx)
        pdf["bin_idx"] = pd.Series(bins, dtype="int64")
        return pdf[["doc_id", "bucket", "n_tokens", "bin_idx"]]

    return base.groupBy("bucket").applyInPandas(
        pack, "doc_id long, bucket int, n_tokens long, bin_idx long"
    )


def domain_mix(
    df: DataFrame,
    target_weights: dict[str, float],
    domain_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    budget_fraction: float = 1.0,
) -> DataFrame:
    """Domain reweighting for a pretraining mix (the DoReMi / Pile
    recipe): choose per-domain sampling rates so the OUTPUT token mass
    approaches ``target_weights`` (normalized), then materialize the
    mix deterministically — downsampled domains keep a doc iff
    md5(doc_id) mod 10000 < frac*10000 (the stratified_sample
    convention), upsampled domains emit floor(rate) full copies plus
    one more under the same hash rule. Deterministic, replayable, no
    rand().

    rate_d = (w_d / token_share_d) * budget_fraction, so sum_d
    rate_d * tokens_d == budget_fraction * total_tokens and the output
    token shares equal the normalized targets in expectation.

    Plan shape: one map-side token count + one tiny groupBy(domain)
    agg collected to the driver (|domains| rows), then a broadcast
    rate map and a map-only explode — no full-width shuffle, scales
    as a linear pass at 100 TB.

    Output: input columns + (n_tokens, copy) — one row per emitted
    copy, copy in [0, n_copies).
    """
    toks = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
    ).cast("long")
    base = df.withColumn("n_tokens", toks)
    shares = {
        r[domain_col]: int(r["toks"])
        for r in base.groupBy(domain_col)
        .agg(F.sum("n_tokens").alias("toks"))
        .collect()
    }
    total = float(sum(shares.values())) or 1.0
    wsum = float(sum(target_weights.values())) or 1.0
    rates = {
        d: (target_weights.get(d, 0.0) / wsum)
        / (shares[d] / total)
        * budget_fraction
        for d in shares
    }
    rate_map = F.create_map(
        *[x for kv in rates.items() for x in (F.lit(kv[0]), F.lit(kv[1]))]
    )
    rate = F.coalesce(rate_map[F.col(domain_col)], F.lit(0.0))
    h = _bucket_hash(id_col)
    n_copies = F.floor(rate).cast("long") + F.when(
        h < ((rate - F.floor(rate)) * 10000).cast("long"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        base.withColumn("n_copies", n_copies)
        .where(F.col("n_copies") > 0)
        .withColumn(
            "copy", F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1))
        )
        .drop("n_copies")
    )


def decontaminate_bloom(
    corpus: DataFrame,
    eval_set: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    saturation: float = 0.10,
) -> DataFrame:
    """Bloom-accelerated decontamination — same contract and OUTPUT as
    :func:`decontaminate`, different broadcast: instead of shipping the
    eval set's distinct n-gram STRINGS to every executor, ship a
    FuzzySet bloom over them (index/bloom.py — the
    BloomFilteringPostingsFormat kernel reused pipeline-side). Corpus
    n-grams are pre-filtered map-side by a vectorized bloom probe (NO
    answers drop immediately; ~90% at the default saturation), and
    only the surviving sliver joins the exact gram set — which removes
    the bloom's false positives, so results are exactly the exact
    path's. At a 13-gram Dolma-scale eval suite the bloom is tens of
    MB where the gram strings are GBs; the exact join's build side
    shrinks by the same ratio.
    """
    import numpy as np

    from ..index.bloom import (
        USABLE_BITSET_SIZES,
        _pack_words,
        murmur2_hash32_batch,
        nearest_set_size,
        positive_hash_batch,
    )

    eval_grams = (
        _gram_rows(eval_set, n, text_col, id_col)
        .select("gram")
        .distinct()
    )
    grams = [r["gram"] for r in eval_grams.collect()]
    size = nearest_set_size(max(len(grams), 1), saturation)
    if size == -1:
        size = USABLE_BITSET_SIZES[-1]
    pos = (
        positive_hash_batch(
            murmur2_hash32_batch(g.encode("utf-8") for g in grams)
        )
        & size
    )
    words = np.asarray(_pack_words(pos, size)).view(np.uint64)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((int(size), words))

    def probe(batches):
        bsize, bwords = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            p = (
                positive_hash_batch(
                    murmur2_hash32_batch(
                        g.encode("utf-8") for g in pdf["gram"]
                    )
                )
                & bsize
            )
            hit = (
                bwords[(p >> 6).astype(np.int64)]
                >> (p.astype(np.uint64) & np.uint64(63))
            ) & np.uint64(1)
            out = pdf[hit.astype(bool)]
            if len(out):
                yield out

    corpus_grams = _gram_rows(corpus, n, text_col, id_col)
    maybe = corpus_grams.mapInPandas(
        probe, "doc_id long, gram string"
    )
    hits = maybe.join(F.broadcast(eval_grams), "gram")
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )


def pack_conversation_windows(
    df: DataFrame,
    budget: int = 64,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Context-window packing for multi-turn TRANSCRIPTS (the
    north-rule input shape: conv_id, turn_idx, role, text): walk each
    conversation's turns IN ORDER and start a new window whenever the
    running token total would exceed ``budget`` — the SFT-data
    chunking step that must preserve turn order (unlike
    :func:`pack_next_fit`, whose bins are order-free within a hash
    bucket).  An oversized single turn still gets a window of its own.

    applyInPandas per conversation: a conversation is bounded (10^2-3
    turns) so the per-group walk is a tiny int loop; 10^12 turns just
    means more groups, which is exactly what Spark scales.

    Output: (conv_id, turn_idx, n_tokens, window_idx).
    """
    toks = F.size(
        F.expr(
            f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)"
        )
    )
    base = df.select(
        F.col(conv_col).alias("conv_id"),
        F.col(order_col).alias("turn_idx"),
        toks.cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("turn_idx").reset_index(drop=True)
        wins = []
        win, fill = 0, 0
        for t in pdf["n_tokens"].to_numpy():
            if fill > 0 and fill + t > budget:
                win += 1
                fill = 0
            fill += int(t)
            wins.append(win)
        pdf["window_idx"] = pd.Series(wins, dtype="int64")
        return pdf[["conv_id", "turn_idx", "n_tokens", "window_idx"]]

    return base.groupBy("conv_id").applyInPandas(
        pack,
        "conv_id string, turn_idx long, n_tokens long, "
        "window_idx long",
    )
