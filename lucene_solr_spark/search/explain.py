"""Score explanations — IndexSearcher.explain / debug=true.

References:
  - lucene/core/src/java/org/apache/lucene/search/similarities/
    BM25Similarity.java:359-386 (explainScore): score(doc, freq) is the
    product boost * idf * tfNorm, where tfNorm is explained from
    (freq, k1, b, avgFieldLength, fieldLength).
  - BooleanWeight.explain sums the per-clause explanations; Solr's
    debug=true (DebugComponent) renders the same tree per hit.

Spark shape: the Explanation tree flattens relationally to one row per
(doc, matching term) carrying every leaf the reference prints — idf,
freq, fieldLength (the decoded norm byte, i.e. the quantized doc
length BM25 actually used), tfNorm, and the clause score. The per-doc
sum of ``score_part`` is EXACTLY the engine's search score (same
cache64 double path), so explanations are self-consistent with
ranking — the property Lucene's CheckHits.verifyExplanation asserts.
"""

from __future__ import annotations

import math

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions.literals import const_array
from ..index.norms import NORM_TABLE
from .executor import Searcher

K1 = 1.2
B = 0.75


def explain(searcher: Searcher, terms: list[str]) -> DataFrame:
    """One row per (doc, matching query term):
    (doc_id, term, idf, freq, field_length, tf_norm, score_part).

    score_part = idf * tfNorm with tfNorm = (k1+1)*freq /
    (freq + k1*((1-b) + b*fieldLength/avgdl)) — the BM25Similarity
    explainScore decomposition (boost omitted: 1.0 rows, like the
    reference which only prints boost when != 1). Per-doc
    sum(score_part) equals searcher.score(Or/And(terms)) exactly
    (shared cache64 denominator table)."""
    qterms = sorted(set(terms))
    term_stats = searcher.index.term_stats(qterms)
    present = [t for t in qterms if t in term_stats]
    if not present:
        return searcher.index.spark.createDataFrame(
            [],
            "doc_id long, term string, idf double, freq double, "
            "field_length double, tf_norm double, score_part double",
        )
    idf_map = F.create_map(
        *[
            x
            for t in present
            for x in (F.lit(t), F.lit(searcher._idf64(term_stats[t][0])))
        ]
    )
    # fieldLength = decodeNormValue(norms[doc]) — BM25Similarity's
    # NORM_TABLE (1/f² of the byte315 float): the quantized doc length
    # the scorer actually used, not the raw stored float
    decode = NORM_TABLE.astype(np.float64)
    fl_arr = const_array(decode.tolist(), "double")
    cache_arr = const_array(searcher.cache64.tolist(), "double")
    p = searcher._postings_for(present).select(
        "term", "doc_id", "tf", "norm_byte"
    )
    tfq = F.col("tf").cast("double")
    idf_col = idf_map[F.col("term")]
    tf_norm = (
        F.lit(K1 + 1.0)
        * tfq
        / (tfq + F.element_at(cache_arr, F.col("norm_byte") + 1))
    )
    return p.select(
        "doc_id",
        "term",
        idf_col.alias("idf"),
        tfq.alias("freq"),
        F.element_at(fl_arr, F.col("norm_byte") + 1).alias(
            "field_length"
        ),
        tf_norm.alias("tf_norm"),
        (idf_col * tf_norm).alias("score_part"),
    )


def explain_doc(
    searcher: Searcher, terms: list[str], doc_id: int
) -> dict:
    """The single-hit Explanation tree as a nested dict — the shape
    Solr's debug=true prints for one document (explainScore's
    "product of:" nesting), assembled from the relational rows."""
    rows = (
        explain(searcher, terms)
        .where(F.col("doc_id") == F.lit(int(doc_id)))
        .collect()
    )
    details = []
    for r in rows:
        details.append(
            {
                "value": r["score_part"],
                "description": (
                    f"weight(text:{r['term']} in {doc_id}) "
                    "[BM25Similarity], product of:"
                ),
                "details": [
                    {"value": r["idf"], "description": "idf"},
                    {
                        "value": r["tf_norm"],
                        "description": "tfNorm, computed from:",
                        "details": [
                            {"value": r["freq"], "description": "freq"},
                            {"value": K1, "description": "parameter k1"},
                            {"value": B, "description": "parameter b"},
                            {
                                "value": searcher.avgdl64,
                                "description": "avgFieldLength",
                            },
                            {
                                "value": r["field_length"],
                                "description": "fieldLength",
                            },
                        ],
                    },
                ],
            }
        )
    total = math.fsum(d["value"] for d in details)
    return {
        "value": total,
        "description": f"sum of ({len(details)} clauses):",
        "details": details,
    }
