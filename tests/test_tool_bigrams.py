"""Agent-trace analytics (datapipe/training.py::tool_bigrams /
turn_latency_stats)."""

import datetime

from lucene_solr_spark.datapipe.training import (
    tool_bigrams,
    turn_latency_stats,
)


def test_pairs_counts_and_skips(spark):
    rows = [
        # conv a: search -> code -> (none, skipped) -> search
        ("a", 0, "search"), ("a", 1, "code"), ("a", 2, "none"),
        ("a", 3, "search"),
        # conv b: code -> code; a tool-less turn in between is transparent
        ("b", 0, "code"), ("b", 1, None), ("b", 2, "code"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string"
    )
    out = {
        (r["first_tool"], r["next_tool"]): r["n_pairs"]
        for r in tool_bigrams(df).collect()
    }
    assert out == {
        ("search", "code"): 1,
        ("code", "search"): 1,  # 'none' between them is transparent
        ("code", "code"): 1,
    }


def test_no_cross_conversation_pairs(spark):
    rows = [("a", 0, "search"), ("b", 0, "code")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string"
    )
    assert tool_bigrams(df).count() == 0


def test_turn_latency_stats(spark):
    def ts(s):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s)

    rows = [
        # conv a: user@0 -> assistant(search)@7 -> user@10 -> assistant(code)@30
        ("a", 0, "user", None, ts(0)),
        ("a", 1, "assistant", "search", ts(7)),
        ("a", 2, "user", None, ts(10)),
        ("a", 3, "assistant", "code", ts(30)),
        # conv b: assistant first turn has NO previous -> excluded;
        # second search turn latency 5
        ("b", 0, "assistant", "search", ts(0)),
        ("b", 1, "user", None, ts(55)),
        ("b", 2, "assistant", "search", ts(60)),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, tool string,"
        " ts timestamp",
    )
    got = {
        r["tool"]: (r["n_turns"], r["avg_latency_sec"], r["max_latency_sec"])
        for r in turn_latency_stats(df).collect()
    }
    assert got == {"code": (1, 20.0, 20), "search": (2, 6.0, 7)}


def test_top_k_and_order(spark):
    rows = (
        [("a", i, "search") for i in range(4)]  # 3 search->search
        + [("b", i, "code") for i in range(3)]  # 2 code->code
    )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string"
    )
    got = [
        (r["first_tool"], r["next_tool"], r["n_pairs"])
        for r in tool_bigrams(df, top_k=1).collect()
    ]
    assert got == [("search", "search", 3)]


def test_empty_skip_keeps_every_tool(spark):
    rows = [("a", 0, "search"), ("a", 1, "none"), ("a", 2, "code")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, tool string"
    )
    got = {
        (r["first_tool"], r["next_tool"]): r["n_pairs"]
        for r in tool_bigrams(df, skip=()).collect()
    }
    assert got == {("search", "none"): 1, ("none", "code"): 1}

def test_transcript_tool_index_past_int_range(spark, tmp_path):
    """The transcript frame's tool index ((doc_id//2)^2 + doc_id//10) % 4
    is taken on the long and cast after: (doc_id//2)^2 passes 2^31 at
    doc_id 92,682, where casting before the modulo overflows under ANSI.
    Checked over 200k docs against the formula and the DuckDB twin."""
    import sys
    from pathlib import Path

    import duckdb
    import numpy as np
    import pyspark.sql.functions as F

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry
    import lucene_solr_spark.oracles as O

    n = 200_000
    path = str(tmp_path / "documents.parquet")
    spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.parquet(path)
    frame = entry._transcript_frame(spark, str(tmp_path))

    ids = np.arange(1, n, 2, dtype=np.int64)
    names = np.array(["search", "code", "browse", "none"])
    want = names[((ids // 2) ** 2 + ids // 10) % 4]
    got = {
        r["tool"]: r["n"]
        for r in frame.groupBy("tool").agg(F.count("*").alias("n"))
        .collect()
    }
    assert got.pop(None) == n // 2  # user turns carry no tool
    assert got == dict(zip(*np.unique(want, return_counts=True)))
    # per doc, just past the overflow point
    lo = 92_682
    tail = frame.select(
        (F.substring("conv_id", 2, 20).cast("long") * 10
         + F.col("turn_idx")).alias("doc_id"),
        "tool",
    ).where(F.col("doc_id").between(lo, lo + 999) & F.col("tool").isNotNull())
    assert {
        (r["doc_id"], r["tool"]) for r in tail.collect()
    } == {(int(d), t) for d, t in zip(ids, want) if lo <= d < lo + 1000}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet')"
    )
    oracle = sorted(con.execute(O.tool_bigrams(top_k=12)).fetchall())
    ours = sorted(
        tuple(r) for r in entry.queries()["tool_bigrams"](
            spark, str(tmp_path)
        ).collect()
    )
    assert ours == oracle
