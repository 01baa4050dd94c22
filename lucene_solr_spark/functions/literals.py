"""Literal arrays and IN-lists built in one bridge call.

``F.array(*[F.lit(v) for v in values])`` and ``col.isin(values)`` cost
one py4j round trip per element; a 256-entry norm table rebuilt on every
query is ~100 ms of driver time. These helpers render the same
expression as SQL text, parsed by Spark in a single call, with the
element type stated by the caller.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import Column


def _sql_double(v) -> str:
    x = float(v)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    # repr is the shortest string that round-trips, and the JVM parses
    # it back to the same double; -0.0 keeps its sign
    return f"{x!r}D"


def _sql_string(v) -> str:
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


_RENDER = {
    "double": _sql_double,
    "bigint": lambda v: f"{int(v)}L",
    "int": lambda v: str(int(v)),
    "string": _sql_string,
}


def _sql_list(values, dtype: str) -> str:
    render = _RENDER[dtype]
    return ", ".join(render(v) for v in values)


def const_array(values, dtype: str) -> Column:
    """A literal ``array<dtype>`` column of ``values``, built with one
    ``F.expr``. ``dtype`` is one of double, bigint, int, string.

    Elements are typed literals, so the array has the type of the
    ``F.array`` of ``F.lit`` it stands for, non-null elements included:
    a nullable element type would make every expression over it
    nullable, down to the written parquet schema. The exceptions are an
    empty array, which is cast to type it, and a non-finite double,
    which renders as Spark's own SQL for it (``CAST('Infinity' AS
    DOUBLE)``), which Spark types as nullable."""
    if not len(values):
        return F.expr(f"CAST(array() AS ARRAY<{dtype.upper()}>)")
    return F.expr(f"array({_sql_list(values, dtype)})")


def sql_in(expr: str, values, dtype: str) -> str:
    """SQL text of ``expr IN (values)`` (``false`` for no values), the
    predicate ``isin`` builds: partition and row-group pruning see the
    same expression."""
    if not len(values):
        return "false"
    return f"{expr} IN ({_sql_list(values, dtype)})"
