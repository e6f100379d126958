"""Vector math over `array<float>` embedding columns — builtins only.

Dot products / norms / cosine run as JVM-side higher-order functions
(`zip_with` + `aggregate`), i.e. inside codegen with zero Python transfer —
at 100 TB this is a row-local map inside the scan stage.  Accumulation is
left-to-right in double precision; the DuckDB oracle generators mirror the
exact same operation order so results are bit-identical.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dot(a: Column | str, b: Column | str) -> Column:
    """Sum of element-wise products, accumulated left-to-right in double."""
    prods = F.zip_with(_c(a), _c(b), lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm2(a: Column | str) -> Column:
    """L2 norm."""
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity (NaN-free: 0 when either norm is 0)."""
    d = dot(a, b)
    na, nb = norm2(a), norm2(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def normalize(a: Column | str) -> Column:
    """Unit-normalized double copy (zero vector -> zero vector).

    Pre-normalizing once per vector turns every later cosine into a single
    dot product — the pairwise-verify hot loop drops from 3 array passes to
    1.  The norm is lambda-bound through a single-element array so the
    interpreted HOF evaluator computes it once per ROW (O(d)), not once per
    element (O(d^2) — a naive `transform(v, x -> x / norm(v))` does that).
    """
    v = _c(a)
    return F.element_at(
        F.transform(
            F.array(norm2(v)),
            lambda n: F.when(n > 0, F.transform(v, lambda x: x.cast("double") / n)).otherwise(
                F.transform(v, lambda x: F.lit(0.0))
            ),
        ),
        1,
    )


# ---------------------------------------------------------------------------
# DuckDB-SQL mirrors (same accumulation order -> bit-identical doubles)
# ---------------------------------------------------------------------------


def sql_dot(a: str, b: str, dim: int) -> str:
    """list_sum is a left fold over the products, matching F.aggregate.

    Contract: both lists must have exactly `dim` elements.  On ragged
    input the mirrors intentionally diverge (DuckDB's list_sum skips the
    NULL products of out-of-range indexing; Spark's fold propagates
    NULL) — a wrong-dimension embedding is malformed data the caller
    must filter, not a value either engine defines."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def sql_norm2(a: str, dim: int) -> str:
    return f"sqrt({sql_dot(a, a, dim)})"


def sql_normalize(a: str, dim: int) -> str:
    """Mirror of `normalize` (same per-element division order)."""
    n = sql_norm2(a, dim)
    return (
        f"(CASE WHEN {n} > 0 "
        f"THEN list_transform(range(1, {dim + 1}), i -> CAST({a}[i] AS DOUBLE) / {n}) "
        f"ELSE list_transform(range(1, {dim + 1}), i -> 0.0) END)"
    )
