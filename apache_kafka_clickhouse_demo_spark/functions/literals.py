"""Literal lists that cross py4j in a constant number of round trips.

PySpark hands a Python list to the JVM element by element: `isin(values)`
makes one `lit` per value plus one list append per value, and
`DataFrameReader.parquet(*paths)` one append per path.  These helpers join
the strings into ONE string, split it on the JVM and wrap the resulting
array as a Scala `Seq`, so a list of any length costs the same handful of
calls.  Nothing JVM-side is cached here: every call asks the active
SparkContext for its gateway, so no handle outlives its context.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark import SparkContext
from pyspark.sql import Column

#: the join/split separator; a value containing it takes the plain path
_SEP = "\x00"


def string_seq(sc: SparkContext, values: list[str]):
    """A Scala `Seq[String]` of `values` (non-empty, none containing NUL)
    built in a constant number of py4j round trips.  Classes are looked
    up by their full names: `jvm.java.util...` costs a round trip per
    package segment."""
    pattern = getattr(sc._jvm, "java.util.regex.Pattern").compile(_SEP)
    arr = pattern.split(_SEP.join(values), -1)
    return getattr(sc._jvm, "scala.collection.immutable.ArraySeq").unsafeWrapArray(arr)


def isin_strings(c: Column, values: Iterable) -> Column:
    """`c IN (values)`: the same `In` expression as `c.isin(values)` (one
    string literal per value, optimized to `InSet` past 10 values and
    pushed to parquet scans as `In`), built in a constant number of
    round trips whatever the list's length.  Values that are not all
    NUL-free strings (None, numbers, an empty list) take `c.isin` itself."""
    from pyspark.sql.classic.column import Column as ClassicColumn

    values = list(values)
    if not values or not all(isinstance(v, str) and _SEP not in v for v in values):
        return c.isin(values)
    sc = SparkContext._active_spark_context
    return ClassicColumn(c._jc.isin(string_seq(sc, values)))
