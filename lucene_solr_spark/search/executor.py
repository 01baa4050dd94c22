"""Query execution over the inverted index — the IndexSearcher analogue.

Physical shapes (SURVEY.md §2.4, §2.7-2.9):
  - term scoring: pruned postings scan + per-term weight applied either
    natively (Catalyst whole-stage codegen, double precision — default/
    bench path) or via a vectorized Arrow pandas_udf in float32
    (rank-identity path, bit-matching BM25Similarity.java:239-247).
  - AND/OR/minShouldMatch: ONE union + groupBy(doc_id) shuffle
    (ConjunctionScorer / DisjunctionSumScorer semantics,
    ConjunctionScorer.java:56-101, DisjunctionSumScorer.java:26-84),
    instead of N-1 pairwise joins.
  - rarest-term-leads (ConjunctionTermScorer.java:33-48): when the rarest
    MUST term is small, its doc set is broadcast-semi-joined against the
    other terms' postings before the groupBy — a broadcast prune that cuts
    the shuffle by orders of magnitude on rare∧common queries.
  - MUST_NOT: left_anti join (ReqExclScorer.java).
  - DisMax: groupBy max + tie*(sum-max) (DisjunctionMaxQuery.java).
  - top-k: orderBy(score desc, doc_id asc).limit(k) — Spark compiles this
    to TakeOrderedAndProject = per-partition bounded heap + single merge,
    exactly Lucene's HitQueue + distributed merge
    (TopScoreDocCollector.java:40-62, QueryComponent.java:747-800).
    A routed query whose postings fetch is within the driver-decode
    bound (wand.py) skips that plan: it scores, sums and takes the same
    (score desc, doc_id asc) top-k in numpy on the driver.
  - result: every top-k path returns a TopDocs (IndexSearcher.search's
    TopDocs{ScoreDoc[]}). A driver finish holds its k hits as a pyarrow
    table, so reading them sends nothing over py4j; a Catalyst path
    holds its lazy orderBy(...).limit(k) plan and pulls it once, as k
    Arrow rows. ``TopDocs.df`` is the Spark DataFrame for join-back and
    plan inspection: the plan itself, or a LocalTableScan of the driver
    hits built only when asked for.
  - routing: every index that speaks the split read protocol
    (index/segments.py SplitIndex — a segment store, or the
    near-real-time reader as a one-split index) routes; the flat
    InvertedIndex and ``prune=False`` take the plans above.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.literals import const_array
from ..index.builder import InvertedIndex
from ..index.norms import NORM_TABLE
from .bm25 import avg_field_length, bm25_score, norm_cache, term_weight
from .query import (
    BooleanClause,
    BooleanQuery,
    DisMaxQuery,
    FieldRangeQuery,
    FieldTermQuery,
    FuzzyQuery,
    MatchAllQuery,
    MultiPhraseQuery,
    PhraseQuery,
    PrefixQuery,
    Query,
    RegexpQuery,
    TermQuery,
    TermRangeQuery,
    WildcardQuery,
    rewrite,
)

# df threshold under which the rarest MUST term's doc set is broadcast
BROADCAST_DOCSET_MAX_DF = 100_000

# MultiTermQuery rewrite cap (BooleanQuery.java:42 maxClauseCount):
# expansions above this switch to a broadcast-semi-join constant-score
# path that never collects the matched term set to the driver
MULTITERM_REWRITE_CAP = 1024


def _collect_terms(q: Query) -> set[str]:
    if isinstance(q, TermQuery):
        return {q.term}
    if isinstance(q, PhraseQuery):
        return set(q.terms)
    if isinstance(q, BooleanQuery):
        out: set[str] = set()
        for c in q.clauses:
            out |= _collect_terms(c.query)
        return out
    if isinstance(q, DisMaxQuery):
        out = set()
        for sub in q.queries:
            out |= _collect_terms(sub)
        return out
    if isinstance(q, MultiPhraseQuery):
        return {t for arr in q.positions for t in arr}
    return set()


def _clause_offsets(terms: list[str]) -> dict[str, list[int]]:
    """Phrase term -> the query offsets of the clauses it fills. A
    repeated term fills several, so its postings feed each of them."""
    offsets: dict[str, list[int]] = {}
    for i, t in enumerate(terms):
        offsets.setdefault(t, []).append(i)
    return offsets


def _clause_col(offsets: dict[str, list[int]]) -> Column:
    """Per postings row of a phrase fetch, its term's clause offsets."""
    return F.create_map(
        *[
            x
            for t, offs in offsets.items()
            for x in (F.lit(t), const_array(offs, "int"))
        ]
    )[F.col("term")]


def arrow_frame(
    spark: SparkSession, schema: StructType, columns: dict | None = None
) -> DataFrame:
    """``columns`` (name -> array; None for no rows) as a LocalTableScan
    built from an Arrow table. collect() on it runs no Spark job, at zero
    rows too: a list or a zero-row pandas frame skips Arrow and comes
    back as a Python RDD scan that costs a job."""
    arrow_schema = to_arrow_schema(schema)
    table = (
        pa.table(columns, schema=arrow_schema)
        if columns is not None
        else arrow_schema.empty_table()
    )
    return spark.createDataFrame(table, schema)


_HIT = Row("doc_id", "score")


class TopDocs:
    """A top-k result: at most k (doc_id, score) hits in (score desc,
    doc_id asc) order, the HitQueue order (HitQueue.java:76-81).

    It holds either the driver finish's hits as a pyarrow ``table`` of
    the hits ``schema``, or ``df``, the lazy Catalyst top-k plan, which
    to_arrow() pulls once as a k-row Arrow table. ``df`` is the Spark
    DataFrame of the hits for callers that need one (join-back, plan
    inspection); for driver hits it is built on first use."""

    def __init__(
        self,
        spark: SparkSession,
        schema: StructType,
        table: pa.Table | None = None,
        df: DataFrame | None = None,
    ):
        self._spark = spark
        self.schema = schema
        self._table = table
        self._df = df

    def to_arrow(self) -> pa.Table:
        if self._table is None:  # the plan ends in limit(k)
            self._table = self._df.toArrow().cast(
                to_arrow_schema(self.schema)
            )
        return self._table

    def collect(self) -> list[Row]:
        t = self.to_arrow()
        return [
            _HIT(d, s)
            for d, s in zip(
                t["doc_id"].to_pylist(), t["score"].to_pylist()
            )
        ]

    def toPandas(self) -> pd.DataFrame:
        return self.to_arrow().to_pandas()

    def __len__(self) -> int:
        return self.to_arrow().num_rows

    @property
    def df(self) -> DataFrame:
        if self._df is None:
            self._df = self._spark.createDataFrame(self._table, self.schema)
        return self._df


class Searcher:
    """Two precision modes:

    - ``exact_float32=True``: bit-replicates BM25Similarity's float32
      order of operations incl. the float32 norm cache — the
      rank-identity-vs-Lucene path (vectorized Arrow UDF).
    - ``exact_float32=False`` (default): IEEE-double scoring over the
      same quantized norms, expressed textually identically to the ANSI
      SQL oracle (``ln(1+(N-df+0.5)/(df+0.5)) * (1.2+1) * tf /
      (tf + 1.2*((1-0.75) + 0.75*qdl/avgdl))``) so the two systems'
      doubles agree to the last ulp — whole-stage-codegen'd, no UDF.
    """

    def __init__(self, index: InvertedIndex, exact_float32: bool = False):
        self.index = index
        self.exact = exact_float32
        self.avgdl32 = avg_field_length(
            index.stats.sum_total_term_freq, index.stats.max_doc
        )
        self.cache = norm_cache(self.avgdl32)  # float32[256]
        # double-precision mirror (oracle-SQL-identical order of ops)
        self.avgdl64 = (
            float(index.stats.sum_total_term_freq)
            / float(index.stats.max_doc)
            if index.stats.max_doc
            else 1.0
        )
        qdl64 = NORM_TABLE.astype(np.float64)
        self.cache64 = 1.2 * ((1 - 0.75) + 0.75 * qdl64 / self.avgdl64)

    # ---------- public API ----------

    def search(self, q: Query, k: int = 10, prune: bool = True) -> TopDocs:
        """IndexSearcher.search: the top-k (doc_id, score) hits as a
        TopDocs, HitQueue tie-break. A routed query finished on the
        driver holds its hits there, so collect() on it sends no py4j
        command; ``.df`` is the hits as a Spark DataFrame, for join-back.

        On a SplitIndex (a segment store or the near-real-time reader),
        pure term conjunctions/disjunctions and phrases route to the
        block-max split-pruned paths (wand.py) BY DEFAULT — top-k over
        10^12 docs must never decode postings the bound already
        excludes, exactly as Lucene's default collectors
        lean on skip lists. Pruning is rank-identical (score-safe);
        ``prune=False`` forces the exhaustive plan (used by tests to
        prove the identity)."""
        if prune:
            routed = self._wand_route(q, k)
            if routed is not None:
                return routed
        return self._top_k(self.score(q), k)

    # The seed-then-prune walk (wand._split_topk) runs only on an index
    # of at least this many splits: with fewer, the seed job's fixed
    # overhead buys too little skipped decode — the same reason Lucene
    # consults skip lists only on long postings lists (skipInterval=16,
    # Lucene40PostingsWriter.java:66). Routing itself is not gated: a
    # smaller index scores every candidate split in one fetch, exactly
    # the exhaustive fetch, finished on the driver when it is bounded.
    # At the default 2^20-wide splits the walk needs >= ~7.3M docs.
    MIN_ROUTE_SPLITS = 8

    def _wand_route(self, q: Query, k: int) -> TopDocs | None:
        """Route top-k shapes the split-bound machinery covers to the
        pruned paths when the index speaks the split read protocol
        (SplitIndex: a segment store or the near-real-time reader);
        anything else returns None (exhaustive plan). Covered: unboosted
        pure-SHOULD / pure-MUST term booleans within default msm
        semantics, single terms, and phrases."""
        from ..index.segments import SplitIndex

        if not isinstance(self.index, SplitIndex):
            return None
        from . import wand as W

        q = rewrite(q)
        if isinstance(q, TermQuery) and q.boost == 1.0:
            return W.wand_or_search(self, [q.term], k)
        if (
            isinstance(q, PhraseQuery)
            and q.boost == 1.0
            and self.index.keep_positions
        ):
            return W.wand_phrase_search(self, list(q.terms), q.slop, k)
        if isinstance(q, BooleanQuery):
            if any(
                not isinstance(c.query, TermQuery)
                or c.query.boost != 1.0
                for c in q.clauses
            ):
                return None
            must = [c.query.term for c in q.clauses if c.occur == "MUST"]
            must_not = [c for c in q.clauses if c.occur == "MUST_NOT"]
            should = [
                c.query.term for c in q.clauses if c.occur == "SHOULD"
            ]
            if must_not:
                return None
            if (
                must
                and not should
                and q.min_should_match == 0
                and len(set(must)) == len(must)
                and len(must) >= 2
            ):
                return W.wand_and_search(self, must, k)
            if should and not must and q.min_should_match <= 1:
                return W.wand_or_search(self, should, k)
        return None

    def search_after(
        self, q: Query, after_score: float, after_doc: int, k: int = 10
    ) -> TopDocs:
        """Deep paging (IndexSearcher.searchAfter, :225-247): the k hits
        after (after_score, after_doc) in HitQueue order, as a TopDocs."""
        scored = self.score(q)
        cur = scored.where(
            (F.col("score") < F.lit(after_score))
            | (
                (F.col("score") == F.lit(after_score))
                & (F.col("doc_id") > F.lit(after_doc))
            )
        )
        return self._top_k(cur, k)

    def score(self, q: Query) -> DataFrame:
        """All matching docs: DataFrame(doc_id long, score float)."""
        q = rewrite(q)
        term_stats = self.index.term_stats(sorted(_collect_terms(q)))
        return self._score(q, term_stats)

    # ---------- scoring internals ----------

    def _term_weight_value(
        self, term: str, term_stats: dict, boost: float
    ) -> float:
        st = term_stats.get(term)
        if st is None:
            return 0.0
        if self.exact:
            w = term_weight(
                st[0], self.index.stats.max_doc, self.avgdl32, boost=boost
            )
            return float(w.weight_value)
        return boost * self._idf64(st[0]) * (1.2 + 1)

    def _idf64(self, df: int) -> float:
        n = self.index.stats.max_doc
        import math

        return math.log(1 + (n - df + 0.5) / (df + 0.5))

    @property
    def _score_type(self) -> str:
        return "float" if self.exact else "double"

    @property
    def _score_dtype(self) -> type:
        return np.float32 if self.exact else np.float64

    @property
    def _hits_schema(self) -> StructType:
        """(doc_id long not null, score float|double): a top-k result."""
        return StructType(
            [
                StructField("doc_id", LongType(), False),
                StructField(
                    "score", FloatType() if self.exact else DoubleType()
                ),
            ]
        )

    def _top_docs(self, doc_id=(), score=()) -> TopDocs:
        """The given (doc_id, score) hits, in their order (none: an
        empty result), held on the driver."""
        schema = self._hits_schema
        table = pa.table(
            {
                "doc_id": np.asarray(doc_id, dtype=np.int64),
                "score": np.asarray(score, dtype=self._score_dtype),
            },
            schema=to_arrow_schema(schema),
        )
        return TopDocs(self.index.spark, schema, table=table)

    def _top_k(self, scored: DataFrame, k: int) -> TopDocs:
        """The top-k of ``scored`` (doc_id, score) rows as a lazy plan:
        TakeOrderedAndProject, a bounded heap per partition and one
        merge (TopScoreDocCollector.java:40-62)."""
        return TopDocs(
            self.index.spark,
            self._hits_schema,
            df=scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k),
        )

    def _term_scores(self, weight, tf, norm_byte) -> np.ndarray:
        """Per-posting term scores in numpy: the kernel and precision of
        _apply_score_col (float32 cache and math in exact mode, the
        double cache and math otherwise)."""
        cache = self.cache if self.exact else self.cache64
        add = cache[np.asarray(norm_byte, dtype=np.int64) & 0xFF]
        return bm25_score(weight, tf, add, self._score_dtype)

    def _phrase_scores(
        self, weight: float, cache: np.ndarray, tf, norm_byte
    ) -> np.ndarray:
        """Phrase scores in numpy from _phrase_weight's (weight, cache):
        the same double math as _score_phrase_freqs, then its cast."""
        add = cache[np.asarray(norm_byte, dtype=np.int64) & 0xFF]
        return bm25_score(weight, tf, add, np.float64).astype(
            self._score_dtype
        )

    def _postings_for(
        self, terms: list[str], want_positions: bool = False
    ) -> DataFrame:
        # Segment store: bucket partition pruning + term row-group pruning
        # before block decode. Flat store: Catalyst pushes IN to the scan.
        if hasattr(self.index, "postings_for_terms"):
            return self.index.postings_for_terms(
                list(terms), want_positions=want_positions
            )
        return self.index.postings.where(F.col("term").isin(list(terms)))

    def _apply_score_col(
        self, df: DataFrame, weights: dict[str, float]
    ) -> DataFrame:
        """score = weight[term] * tf / (tf + cache[norm_byte])."""
        if self.exact:
            cache = self.cache
            wmap = dict(weights)

            @F.pandas_udf("float")
            def bm25_f32(
                term: pd.Series, tf: pd.Series, norm_byte: pd.Series
            ) -> pd.Series:
                add = cache[norm_byte.to_numpy(dtype=np.int64) & 0xFF]
                return pd.Series(
                    bm25_score(term.map(wmap), tf, add, np.float32)
                )

            return df.withColumn(
                "score", bm25_f32(F.col("term"), F.col("tf"), F.col("norm_byte"))
            )
        # double path: whole-stage-codegen'd, oracle-SQL-identical math
        cache_arr = const_array(self.cache64.tolist(), "double")
        wexpr = F.create_map(
            *[x for t, w in weights.items() for x in (F.lit(t), F.lit(float(w)))]
        )
        tf = F.col("tf").cast("double")
        denom_add = F.element_at(cache_arr, F.col("norm_byte") + 1)
        return df.withColumn(
            "score", wexpr[F.col("term")] * tf / (tf + denom_add)
        )

    def _score(self, q: Query, term_stats: dict) -> DataFrame:
        if isinstance(q, TermQuery):
            return self._score_terms(
                [(q.term, q.boost)], term_stats
            ).select("doc_id", "score")
        if isinstance(q, MatchAllQuery):
            return self.index.docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(1.0).cast(self._score_type).alias("score"),
            )
        if isinstance(q, PhraseQuery):
            return self._score_phrase(q, term_stats)
        if isinstance(q, MultiPhraseQuery):
            return self._score_multi_phrase(q, term_stats)
        if isinstance(
            q,
            (
                PrefixQuery,
                WildcardQuery,
                FuzzyQuery,
                TermRangeQuery,
                RegexpQuery,
            ),
        ):
            return self._score_multiterm(q)
        if isinstance(q, FieldRangeQuery):
            # fielded range (price:[10 TO 20]): Catalyst predicate on
            # the stored column, constant score, pushed into the scan
            def _num(s):
                try:
                    return float(s)
                except (TypeError, ValueError):
                    return None

            numeric = all(
                _num(b) is not None
                for b in (q.lower, q.upper)
                if b is not None
            ) and (q.lower is not None or q.upper is not None)
            col = (
                F.col(q.field).cast("double")
                if numeric
                else F.col(q.field).cast("string")
            )
            cond = F.lit(True)
            if q.lower is not None:
                lo = F.lit(_num(q.lower) if numeric else q.lower)
                cond = cond & (
                    col >= lo if q.include_lower else col > lo
                )
            if q.upper is not None:
                hi = F.lit(_num(q.upper) if numeric else q.upper)
                cond = cond & (
                    col <= hi if q.include_upper else col < hi
                )
            return self.index.docs.where(cond).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(float(q.boost)).cast(self._score_type).alias("score"),
            )
        if isinstance(q, FieldTermQuery):
            # exact match on a stored column: constant-score predicate
            # pushed into the parquet scan by Catalyst
            return self.index.docs.where(
                F.col(q.field).cast("string") == F.lit(q.value)
            ).select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(float(q.boost)).cast(self._score_type).alias("score"),
            )
        if isinstance(q, DisMaxQuery):
            return self._score_dismax(q, term_stats)
        if isinstance(q, BooleanQuery):
            return self._score_boolean(q, term_stats)
        raise TypeError(f"unsupported query: {q!r}")

    def _score_terms(
        self, terms_boosts: list[tuple[str, float]], term_stats: dict
    ) -> DataFrame:
        """Per-(term,doc) scored postings for the given terms."""
        weights = {
            t: self._term_weight_value(t, term_stats, boost)
            for t, boost in terms_boosts
        }
        present = [t for t in weights if t in term_stats]
        if not present:
            return self._empty_scored()
        df = self._postings_for(present).select(
            "term", "doc_id", "tf", "norm_byte"
        )
        return self._apply_score_col(df, weights)

    def _no_hits(self) -> DataFrame:
        """An empty score() result."""
        return self._empty_scored().select("doc_id", "score")

    def _empty_scored(self) -> DataFrame:
        hits = self._hits_schema
        return arrow_frame(
            self.index.spark,
            StructType(
                [
                    StructField("term", StringType()),
                    hits["doc_id"],
                    StructField("tf", IntegerType()),
                    StructField("norm_byte", IntegerType()),
                    hits["score"],
                ]
            ),
        )

    def _score_boolean(self, q: BooleanQuery, term_stats: dict) -> DataFrame:
        must = [c.query for c in q.clauses if c.occur == "MUST"]
        should = [c.query for c in q.clauses if c.occur == "SHOULD"]
        must_not = [c.query for c in q.clauses if c.occur == "MUST_NOT"]
        msm = q.min_should_match
        # Lucene: if there are MUST clauses, SHOULD are optional (msm
        # default 0); pure-SHOULD queries need >= max(1, msm) matches.
        if not must:
            msm = max(1, msm)

        parts: list[DataFrame] = []
        for i, sub in enumerate(must):
            parts.append(
                self._score(sub, term_stats).select(
                    "doc_id",
                    "score",
                    F.lit(1).alias("is_must"),
                    F.lit(i).alias("clause"),
                )
            )
        for j, sub in enumerate(should):
            parts.append(
                self._score(sub, term_stats).select(
                    "doc_id",
                    "score",
                    F.lit(0).alias("is_must"),
                    F.lit(len(must) + j).alias("clause"),
                )
            )
        if not parts:
            return self._no_hits()
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)

        # rarest-MUST-leads broadcast prune (ConjunctionTermScorer.java:33-48)
        if len(must) >= 2:
            lead = self._rarest_must_docset(must, term_stats)
            if lead is not None:
                unioned = unioned.join(
                    F.broadcast(lead), on="doc_id", how="left_semi"
                )

        grouped = unioned.groupBy("doc_id").agg(
            F.sum("score").cast(self._score_type).alias("score"),
            F.sum("is_must").alias("n_must"),
            F.sum(1 - F.col("is_must")).alias("n_should"),
        )
        cond = F.col("n_must") == F.lit(len(must))
        if msm > 0:
            cond = cond & (F.col("n_should") >= F.lit(msm))
        out = grouped.where(cond).select("doc_id", "score")

        if must_not:
            excl = None
            for sub in must_not:
                d = self._score(sub, term_stats).select("doc_id")
                excl = d if excl is None else excl.unionByName(d)
            out = out.join(excl.distinct(), on="doc_id", how="left_anti")
        return out

    def _rarest_must_docset(
        self, must: list[Query], term_stats: dict
    ) -> DataFrame | None:
        """If the rarest MUST term is small enough, return its doc_id set
        for a broadcast semi-join prune. Any MUST term with df=0 means the
        whole conjunction is empty — handled naturally (empty docset)."""
        best: tuple[int, str] | None = None
        for sub in must:
            if isinstance(sub, TermQuery):
                df_ = term_stats.get(sub.term, (0, 0))[0]
                if best is None or df_ < best[0]:
                    best = (df_, sub.term)
        if best is None or best[0] > BROADCAST_DOCSET_MAX_DF:
            return None
        return self._postings_for([best[1]]).select("doc_id")

    def _score_dismax(self, q: DisMaxQuery, term_stats: dict) -> DataFrame:
        parts = [
            self._score(sub, term_stats).select("doc_id", "score")
            for sub in q.queries
        ]
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        tie = float(q.tie_breaker)
        return unioned.groupBy("doc_id").agg(
            (
                F.max("score")
                + F.lit(tie) * (F.sum("score") - F.max("score"))
            )
            .cast(self._score_type)
            .alias("score")
        )

    def _score_phrase(self, q: PhraseQuery, term_stats: dict) -> DataFrame:
        """Exact phrase (slop=0): adjacency via adjusted positions.
        (pos_i - i) equal across all clause indices -> one occurrence
        (ExactPhraseScorer.java:201-242). Sloppy (slop>0): greedy
        min-advancing walk with freq += 1/(distance+1) per locally-minimal
        window (SloppyPhraseScorer.java:75-105; see search/sloppy.py).
        Scoring: idf = float32 sum of constituent idfs
        (BM25Similarity.idfExplain:185-196), freq = phrase frequency."""
        terms = list(q.terms)
        if any(t not in term_stats for t in terms):
            return self._no_hits()
        if q.slop > 0:
            return self._score_phrase_sloppy(q, term_stats)
        n = len(terms)
        # one fetch for the distinct terms, then one row per clause
        unioned = (
            self._postings_for(sorted(set(terms)), want_positions=True)
            .select(
                "doc_id",
                "norm_byte",
                "positions",
                F.explode(_clause_col(_clause_offsets(terms))).alias(
                    "clause"
                ),
            )
            .select(
                "doc_id",
                "norm_byte",
                F.explode("positions").alias("pos"),
                "clause",
            )
            .select(
                "doc_id",
                "norm_byte",
                (F.col("pos") - F.col("clause")).alias("apos"),
                "clause",
            )
        )
        occ = (
            unioned.groupBy("doc_id", "apos")
            .agg(
                F.countDistinct("clause").alias("nc"),
                F.first("norm_byte").alias("norm_byte"),
            )
            .where(F.col("nc") == n)
        )
        freqs = occ.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("tf"), F.first("norm_byte").alias("norm_byte")
        )
        return self._score_phrase_freqs(freqs, terms, q.boost, term_stats)

    def _score_phrase_sloppy(
        self, q: PhraseQuery, term_stats: dict
    ) -> DataFrame:
        """SloppyPhraseScorer path: per-doc greedy walk over the clause
        position lists (sloppy.py), freq is the float32 slop-factor sum.

        A bounded fetch (the WAND cost model's driver-decode bound) runs
        the walk on the driver over the decoded frame; a larger one runs
        it distributed in mapInPandas."""
        from .sloppy import (
            FREQ_SCHEMA,
            clause_rows,
            sloppy_freq_partitions,
            sloppy_freqs,
        )

        terms = list(q.terms)
        # hasRpts (SloppyPhraseScorer.java:106-215): clauses sharing a
        # term form repeat groups, sorted by query offset
        by_term = _clause_offsets(terms)
        rpt_groups = [v for v in by_term.values() if len(v) > 1]
        n = len(terms)
        distinct = sorted(set(terms))
        local = None
        if hasattr(self.index, "postings_for_terms_local"):
            local = self.index.postings_for_terms_local(
                distinct, want_positions=True
            )
        if local is not None:
            from ..index.segments import local_frame

            freqs = local_frame(
                self.index.spark,
                sloppy_freqs(
                    clause_rows(local, by_term), n, q.slop, rpt_groups
                ),
                FREQ_SCHEMA,
            )
        else:
            rows = (
                self._postings_for(distinct, want_positions=True)
                .select(
                    "doc_id",
                    "norm_byte",
                    F.explode(_clause_col(by_term)).alias("clause"),
                    "positions",
                )
                .repartition("doc_id")
                .sortWithinPartitions("doc_id", "clause")
            )
            freqs = rows.mapInPandas(
                sloppy_freq_partitions(n, q.slop, rpt_groups), FREQ_SCHEMA
            )
        return self._score_phrase_freqs(freqs, terms, q.boost, term_stats)

    def _score_multi_phrase(
        self, q: MultiPhraseQuery, term_stats: dict
    ) -> DataFrame:
        """MultiPhraseQuery: each slot i accepts any term of
        q.positions[i]. Execution unions each slot's alternatives'
        position postings (UnionDocsAndPositionsEnum,
        MultiPhraseQuery.java:411-520) — distinct terms never share a
        position, so the union has at most one row per (doc, pos) and
        the exact-phrase adjusted-position join stays duplicate-free.
        idf sums over every term of every array in array order
        (MultiPhraseWeight ctor :135-160), zero-df terms included."""
        n = len(q.positions)
        if n == 0:
            return self._no_hits()
        flat = [t for arr in q.positions for t in arr]
        present = [
            sorted({t for t in arr if t in term_stats})
            for arr in q.positions
        ]
        if any(not alts for alts in present):
            # a slot with no indexed alternative can never match
            return self._no_hits()
        if q.slop > 0:
            return self._score_multi_phrase_sloppy(q, present, flat, term_stats)
        parts = []
        for i, alts in enumerate(present):
            parts.append(
                self._postings_for(alts, want_positions=True)
                .select(
                    "doc_id",
                    "norm_byte",
                    F.explode("positions").alias("pos"),
                )
                .select(
                    "doc_id",
                    "norm_byte",
                    (F.col("pos") - F.lit(i)).alias("apos"),
                    F.lit(i).alias("clause"),
                )
            )
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        occ = (
            unioned.groupBy("doc_id", "apos")
            .agg(
                F.countDistinct("clause").alias("nc"),
                F.first("norm_byte").alias("norm_byte"),
            )
            .where(F.col("nc") == n)
        )
        freqs = occ.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("tf"),
            F.first("norm_byte").alias("norm_byte"),
        )
        return self._score_phrase_freqs(freqs, flat, q.boost, term_stats)

    def _score_multi_phrase_sloppy(
        self,
        q: MultiPhraseQuery,
        present: list[list[str]],
        flat: list[str],
        term_stats: dict,
    ) -> DataFrame:
        """Sloppy multi-phrase: each slot's merged (sorted) union of its
        alternatives' positions feeds the SloppyPhraseScorer greedy walk
        unchanged. Restricted to slot sets DISJOINT across slots — with
        union enums Lucene's repeat detection keys on the enum, and two
        slots sharing a term would need the hasRpts cell walk over
        merged lists; declared out of scope (raises)."""
        from .sloppy import FREQ_SCHEMA, sloppy_freq_partitions

        seen: set[str] = set()
        for alts in present:
            if seen & set(alts):
                raise NotImplementedError(
                    "sloppy MultiPhraseQuery with a term shared across "
                    "slots is not supported"
                )
            seen |= set(alts)
        n = len(present)
        parts = []
        for i, alts in enumerate(present):
            parts.append(
                self._postings_for(alts, want_positions=True).select(
                    "doc_id",
                    "norm_byte",
                    F.lit(i).alias("clause"),
                    "positions",
                )
            )
        unioned = parts[0]
        for p in parts[1:]:
            unioned = unioned.unionByName(p)
        # merge a slot's alternatives into ONE ascending position list
        # (the union posting enum's per-doc position order)
        merged = unioned.groupBy("doc_id", "clause").agg(
            F.first("norm_byte").alias("norm_byte"),
            F.sort_array(F.flatten(F.collect_list("positions"))).alias(
                "positions"
            ),
        )
        rows = merged.select(
            "doc_id", "norm_byte", "clause", "positions"
        ).repartition("doc_id").sortWithinPartitions("doc_id", "clause")
        freqs = rows.mapInPandas(
            sloppy_freq_partitions(n, q.slop, []), FREQ_SCHEMA
        )
        return self._score_phrase_freqs(freqs, flat, q.boost, term_stats)

    def _score_phrase_freqs(
        self,
        freqs: DataFrame,
        terms: list[str],
        boost: float,
        term_stats: dict,
    ) -> DataFrame:
        weight_value, cache = self._phrase_weight(terms, boost, term_stats)
        cache_arr = const_array(cache.tolist(), "double")
        tf = F.col("tf").cast("double")
        denom_add = F.element_at(cache_arr, F.col("norm_byte") + 1)
        return freqs.select(
            "doc_id",
            (F.lit(weight_value) * tf / (tf + denom_add))
            .cast(self._score_type)
            .alias("score"),
        )

    def _phrase_weight(
        self, terms: list[str], boost: float, term_stats: dict
    ) -> tuple[float, np.ndarray]:
        """(weight, norm cache as doubles) of a phrase score: summed idf
        weight, float32 accumulation like idfExplain in exact mode and a
        plain double sum (term order) in double mode."""
        if self.exact:
            from .bm25 import idf as idf_fn

            w32 = np.float32(0.0)
            for t in terms:
                w32 = np.float32(
                    w32
                    + idf_fn(
                        term_stats.get(t, (0, 0))[0],
                        self.index.stats.max_doc,
                    )
                )
            weight_value = float(
                np.float32(boost) * w32 * np.float32(1.2 + 1.0)
            )
            return weight_value, self.cache.astype(np.float64)
        w = 0.0
        for t in terms:
            w = w + self._idf64(term_stats.get(t, (0, 0))[0])
        return boost * w * (1.2 + 1), self.cache64

    def _score_multiterm(self, q) -> DataFrame:
        """Prefix/Wildcard/Fuzzy: expand against terms_stats, then
        constant-score over the union of matching docs (MultiTermQuery
        CONSTANT_SCORE rewrite, MultiTermQuery.java)."""
        ts = self.index.terms_stats
        if isinstance(q, PrefixQuery):
            matched = ts.where(F.col("term").startswith(q.prefix))
        elif isinstance(q, WildcardQuery):
            import re as _re

            # '\X' escapes make X literal (WildcardQuery.java:55-70
            # WILDCARD_ESCAPE) — an escaped '*'/'?' never expands
            parts: list[str] = []
            i = 0
            pat = q.pattern
            while i < len(pat):
                ch = pat[i]
                if ch == "\\" and i + 1 < len(pat):
                    parts.append(_re.escape(pat[i + 1]))
                    i += 2
                    continue
                parts.append(
                    ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
                )
                i += 1
            rx = "^" + "".join(parts) + "$"
            matched = ts.where(F.col("term").rlike(rx))
        elif isinstance(q, FuzzyQuery):
            matched = ts.where(
                F.levenshtein(F.col("term"), F.lit(q.term)) <= q.max_edits
            )
        elif isinstance(q, RegexpQuery):
            # RegexpQuery.java: the automaton must accept the WHOLE term
            matched = ts.where(
                F.col("term").rlike("^(?:" + q.pattern + ")$")
            )
        elif isinstance(q, TermRangeQuery):
            # lexicographic bounds (TermRangeQuery.java:~60); Parquet
            # min/max row-group stats prune the terms scan for free
            matched = ts
            if q.lower is not None:
                matched = matched.where(
                    F.col("term") >= q.lower
                    if q.include_lower
                    else F.col("term") > q.lower
                )
            if q.upper is not None:
                matched = matched.where(
                    F.col("term") <= q.upper
                    if q.include_upper
                    else F.col("term") < q.upper
                )
        else:  # pragma: no cover
            raise TypeError(q)
        if hasattr(self.index, "postings_for_terms"):
            # Bounded rewrite: collect at most CAP+1 expansion terms
            # (BooleanQuery.java:42 maxClauseCount=1024). Small
            # expansions get bucket-partition pruning; broader ones
            # (e.g. single-letter prefixes over a 10^8-term dictionary)
            # never collect the dictionary — they fall back to a
            # broadcast semi-join of the matched-term frame against the
            # block scan (constant-score rewrite, driver-safe).
            sample = (
                matched.select("term")
                .limit(MULTITERM_REWRITE_CAP + 1)
                .collect()
            )
            if not sample:
                return self._no_hits()
            if len(sample) <= MULTITERM_REWRITE_CAP:
                src = self.index.postings_for_terms(
                    [r["term"] for r in sample]
                )
            else:
                src = self.index.postings_for_matched(matched)
        else:
            src = self.index.postings.join(
                F.broadcast(matched.select("term")), on="term", how="left_semi"
            )
        docs = src.select("doc_id").distinct()
        return docs.select(
            "doc_id",
            F.lit(float(q.boost)).cast(self._score_type).alias("score"),
        )
