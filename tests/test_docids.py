"""Dense docID assignment (index/docids.py) past 2^31: the per-bucket
docBase is a bigint, so base + row_number() never runs in int32."""

from __future__ import annotations

from pyspark.sql.types import LongType

from lucene_solr_spark.index.docids import _number_buckets


def test_doc_ids_cross_2_31(spark):
    # bucket 0 holds one row; bucket 1 starts at docBase 2^31 - 2 and
    # holds four, so its ids run 2^31 - 2 .. 2^31 + 1
    bucketed = spark.createDataFrame(
        [(0, 0), (1, 10), (1, 11), (1, 12), (1, 13)], "_bkt int, k long"
    )
    out = _number_buckets(bucketed, [0, 2**31 - 2], ["k"], "doc_id")
    # a required bigint column, as the doc store has always written it
    assert out.schema["doc_id"].dataType == LongType()
    assert not out.schema["doc_id"].nullable
    assert "_bkt" not in out.columns
    got = sorted((r["k"], r["doc_id"]) for r in out.collect())
    assert got == [
        (0, 0),
        (10, 2**31 - 2),
        (11, 2**31 - 1),
        (12, 2**31),
        (13, 2**31 + 1),
    ]
