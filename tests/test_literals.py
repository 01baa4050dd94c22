"""const_array (functions/literals.py) builds a literal array column in
one bridge call; it must equal the per-element ``F.array(F.lit(...))``
it replaced, bit for bit, with the element type the caller asks for."""

from __future__ import annotations

import struct

import numpy as np
import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from lucene_solr_spark.functions.literals import const_array
from lucene_solr_spark.index.norms import NORM_TABLE

DOUBLES = [
    float("inf"),
    float("-inf"),
    float("nan"),
    -0.0,
    0.0,
    5e-324,  # smallest subnormal
    2.5e-310,  # subnormal
    5e300,
    0.1,
    1.0 / 3.0,
    -123456.789,
    1e16,
]


def _bits(values) -> list[bytes]:
    return [struct.pack("<d", v) for v in values]


@pytest.mark.parametrize(
    "values",
    # NORM_TABLE[0] is +inf, as is the BM25 norm cache's first entry
    [DOUBLES, NORM_TABLE.astype(np.float64).tolist()],
    ids=["edge", "norm_table"],
)
def test_doubles_bit_identical_to_lit_array(spark, values):
    df = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in values]).alias("lit"),
        const_array(values, "double").alias("const"),
    )
    assert df.schema["const"].dataType.elementType == DoubleType()
    row = df.first()
    assert _bits(row["const"]) == _bits(row["lit"]) == _bits(values)


@pytest.mark.parametrize(
    "dtype,values,spark_type",
    [
        ("double", [1.5, -2.0], DoubleType()),
        ("bigint", [0, 2**31 - 2, 2**40, -(2**62)], LongType()),
        ("int", [0, 7, -(2**31)], IntegerType()),
        ("string", ["a", "it's", "back\\slash", "", "0123bcd"],
         StringType()),
    ],
)
def test_element_type_and_values(spark, dtype, values, spark_type):
    df = spark.range(1).select(
        const_array(values, dtype).alias("a"),
        const_array([], dtype).alias("empty"),
    )
    # non-null elements, like F.array of F.lit: the nullability reaches
    # the parquet schema of anything written from them (doc ids)
    assert df.schema["a"].dataType == ArrayType(spark_type, False)
    assert df.schema["empty"].dataType.elementType == spark_type
    row = df.first()
    assert list(row["a"]) == values
    assert list(row["empty"]) == []
