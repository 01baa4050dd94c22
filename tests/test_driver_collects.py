"""Driver memory stays bounded: every Spark read of rows to the driver
(``.collect()``, ``.toPandas()``, ``.toArrow()``, ``.toLocalIterator()``,
a zero-argument ``.first()``) and every pyarrow read of table rows
(``to_table``, ``read_table``, ``read_row_group(s)``, and ``read``,
``read_pandas`` or ``iter_batches`` of a ``ParquetFile`` /
``ParquetDataset`` or of the ``pyarrow.parquet`` module) in the package
sits at a site whose result size is bounded by something other than the
corpus (one aggregate row, a ``limit``, the query's own terms, a
per-bucket / per-split / per-partition count, ...).

A new site fails this test until it is added to BOUNDED with the bound
that makes it safe. Entries are exact counts per enclosing function, so
a removed site must be removed here too."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "lucene_solr_spark"

ONE_ROW = "one global aggregate row"
QUERY_TERMS = "one row per query term"
DOC_LOOKUP = "point lookup of one doc_id"
BOUNDED_FETCH = (
    "at most wand.overhead_eq_postings() postings (2,860 at the shipped "
    "constants), checked on split_meta by SplitIndex.decode_postings_local "
    "before the fetch, read from row groups of at most max_bytes "
    "compressed bytes (wand.overhead_eq_bytes() from both _pull_postings), "
    "checked on the cached footers before the read; a bounded sloppy "
    "phrase walks this same frame on the driver, and a bounded routed "
    "query finishes its top-k on it"
)

# (path under the package, enclosing function) -> (sites, why bounded)
BOUNDED: dict[tuple[str, str], tuple[int, str]] = {
    ("analysis/autostop.py", "auto_stopwords"):
        (1, "terms with df > max_doc_freq: at most sum(df)/max_doc_freq"),
    ("datapipe/classifier.py", "train_quality_lr"):
        (2, "one moments row per input partition"),
    ("datapipe/components.py", "connected_components"): (1, ONE_ROW),
    ("datapipe/lm.py", "dsir_importance_weights.dist"): (1, ONE_ROW),
    ("datapipe/lm.py", "pmi_collocations"): (1, ONE_ROW),
    ("datapipe/lm.py", "train_bigram_lm"): (1, ONE_ROW),
    ("datapipe/similarity.py", "_collect_centroids"):
        (1, "ids below n_centroids"),
    ("datapipe/similarity.py", "_signatures_arrow"): (1, "limit(1)"),
    ("datapipe/similarity.py", "ivf_train_kmeans"):
        (1, "one row per (partition, centroid)"),
    ("datapipe/training.py", "decontaminate_bloom"):
        (1, "distinct n-grams of the eval set, never of the corpus"),
    ("datapipe/training.py", "domain_mix"): (1, "one row per domain"),
    ("index/bloom.py", "BloomIndex.__init__"):
        (1, "only when the footers' row-group bytes are <= "
            "_DRIVER_CACHE_MAX_BYTES (64 MB); one row per split"),
    ("index/bloom.py", "BloomIndex._splits_one"): (1, "one row per split"),
    ("index/builder.py", "InvertedIndex.term_stats"): (1, QUERY_TERMS),
    ("index/builder.py", "build_index"): (1, ONE_ROW),
    ("index/checkindex.py", "check_index"): (1, ONE_ROW),
    ("index/docids.py", "_range_bounds"): (2, "limit(_SAMPLE_CAP)"),
    ("index/docids.py", "assign_doc_ids"): (1, "one row per range bucket"),
    ("index/fields.py", "build_fielded_index"): (1, "one row per field"),
    ("index/segments.py", "SegmentIndex.buckets_of"): (1, QUERY_TERMS),
    ("index/segments.py", "DriverParquet.read"): (1, BOUNDED_FETCH),
    ("index/segments.py", "SegmentIndex._split_meta_rows"):
        (1, "block metadata of the query terms, memoized per term"),
    ("index/sorted_store.py", "build_sorted_store"):
        (2, "one row per sort bucket; first(): one global aggregate row"),
    ("search/clustering.py", "_tfidf_vectors"): (1, "limit(n_vocab)"),
    ("search/complexphrase.py", "_slot_terms"):
        (1, "limit(MAX_BASIC_QUERIES + 1)"),
    ("search/executor.py", "Searcher._score_multiterm"):
        (1, "limit(MULTITERM_REWRITE_CAP + 1)"),
    ("search/executor.py", "TopDocs.to_arrow"):
        (1, "a top-k plan: limit(k), pulled once"),
    ("search/explain.py", "explain_doc"): (1, DOC_LOOKUP),
    ("search/funcquery.py", "_compile"): (1, ONE_ROW),
    ("search/fuzzylikethis.py", "_variants"):
        (1, "limit(MAX_VARIANTS_PER_TERM)"),
    ("search/handler.py", "select"): (1, "one result page: limit(rows)"),
    ("search/luke.py", "analyze_document"): (1, DOC_LOOKUP),
    ("search/luke.py", "analyze_stages"): (1, DOC_LOOKUP),
    ("search/morelikethis.py", "interesting_terms"): (1, DOC_LOOKUP),
    ("search/morelikethis.py", "interesting_terms_scored"): (1, DOC_LOOKUP),
    ("search/morelikethis.py", "more_like_this"):
        (1, "limit(max_query_terms)"),
    ("search/payloads.py", "payload_near_topk"):
        (2, f"{ONE_ROW}; {QUERY_TERMS}"),
    ("search/payloads.py", "payload_term_topk"): (1, ONE_ROW),
    ("search/payloads.py", "span_near_payload_check_topk"):
        (2, f"{ONE_ROW}; {QUERY_TERMS}"),
    ("search/payloads.py", "span_payload_check_topk"): (1, ONE_ROW),
    ("search/response.py", "_doc_rows"): (1, "one result page"),
    ("search/response.py", "_facet_lists"): (1, "facet.limit rows"),
    ("search/resultcache.py", "cached_select.fetch"):
        (1, "one result page"),
    ("search/reversed.py", "leading_wildcard_docs"):
        (1, "limit(MULTITERM_REWRITE_CAP + 1)"),
    ("search/spans.py", "_expand_clause"): (1, "limit(max_expansions + 1)"),
    ("search/spellcheck.py", "collate"): (2, f"{QUERY_TERMS}; k=1"),
    ("search/spellcheck.py", "collations"): (2, f"{QUERY_TERMS}; k=3"),
    ("search/surround.py", "_expand_terms"):
        (1, "limit(MAX_BASIC_QUERIES + 1)"),
    ("search/termvectors.py", "term_vector"): (1, DOC_LOOKUP),
    ("streaming/incremental.py", "IncrementalIndexWriter.add_versioned"):
        (1, "conflict sample: limit(5)"),
    ("streaming/incremental.py", "StreamingIndexReader.__post_init__"):
        (1, "tombstone ids pending compaction: one int64 per deleted doc, "
            "read once per reader"),
    ("streaming/incremental.py", "StreamingIndexReader._split_meta_rows"):
        (1, f"split_meta of a one-split index: {QUERY_TERMS}"),
}

# Sites known to be unbounded, each an open robustness item in
# ROADMAP.md. Listed so the test fails on NEW unbounded sites only.
KNOWN_UNBOUNDED: dict[tuple[str, str], tuple[int, str]] = {
    ("functions/bpe.py", "train_bpe"):
        (1, "the whole distinct-word vocabulary"),
}


DRIVER_READS = ("collect", "toPandas", "toArrow", "toLocalIterator",
                "to_table", "read_table", "read_row_group",
                "read_row_groups")
# names too common to match alone: they count only on a pyarrow receiver
PYARROW_READS = ("read", "read_pandas", "iter_batches")
PYARROW_READERS = ("ParquetFile", "ParquetDataset")
PYARROW_MODULES = ("pq", "parquet")


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _is_pyarrow_receiver(node: ast.AST) -> bool:
    """``pq.ParquetFile(...)`` / ``ParquetDataset(...)`` (any spelling
    of the constructor), or the ``pyarrow.parquet`` module itself."""
    if isinstance(node, ast.Call):
        return _name(node.func) in PYARROW_READERS
    return _name(node) in PYARROW_MODULES


def _is_driver_read(call: ast.Call) -> bool:
    """A call of a DRIVER_READS method, a PYARROW_READS method of a
    pyarrow parquet reader, or DataFrame.first() — which takes no
    argument, unlike the aggregate F.first(col)."""
    if not isinstance(call.func, ast.Attribute):
        return False
    if call.func.attr == "first":
        return not call.args and not call.keywords
    if call.func.attr in PYARROW_READS:
        return _is_pyarrow_receiver(call.func.value)
    return call.func.attr in DRIVER_READS


def _driver_pulls() -> Counter:
    found: Counter = Counter()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()

        def walk(node: ast.AST, scope: str) -> None:
            for child in ast.iter_child_nodes(node):
                inner = scope
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                      ast.ClassDef)):
                    inner = f"{scope}.{child.name}" if scope else child.name
                if isinstance(child, ast.Call) and _is_driver_read(child):
                    found[(rel, scope)] += 1
                walk(child, inner)

        walk(ast.parse(path.read_text()), "")
    return found


def test_every_driver_pull_is_at_a_bounded_site():
    allowed = {k: n for k, (n, _) in {**BOUNDED, **KNOWN_UNBOUNDED}.items()}
    found = _driver_pulls()
    new = {k: n for k, n in found.items() if n > allowed.get(k, 0)}
    assert not new, (
        f"driver reads at sites with no proven bound: {new} — "
        "bound the result, or add the site to BOUNDED with its bound"
    )
    stale = {k: n for k, n in allowed.items() if found.get(k, 0) != n}
    assert not stale, f"allow-list entries that no longer match: {stale}"


def test_scanner_matches_zero_argument_first_only():
    src = ("df.first()\nF.first('x')\nF.first(c, ignorenulls=True)\n"
           "df.toArrow()\ndf.toLocalIterator()\ndf.limit(1)\n")
    calls = [s.value for s in ast.parse(src).body]
    assert [_is_driver_read(c) for c in calls] == [
        True, False, False, True, True, False
    ]


def test_scanner_matches_pyarrow_reads_on_their_receiver_only():
    src = (
        "pq.ParquetFile(p).read()\n"
        "pq.ParquetFile(p, metadata=m).read(columns=c)\n"
        "ParquetFile(p).iter_batches()\n"
        "pq.ParquetDataset(p).read()\n"
        "pyarrow.parquet.ParquetDataset(p).read_pandas()\n"
        "pq.read_pandas(p)\n"
        "open(p).read()\n"
        "f.read()\n"
        "json.load(f).read()\n"
        "pq.read_metadata(p)\n"
        "reader.iter_batches()\n"
    )
    calls = [s.value for s in ast.parse(src).body]
    assert [_is_driver_read(c) for c in calls] == [
        True, True, True, True, True, True,
        False, False, False, False, False,
    ]
