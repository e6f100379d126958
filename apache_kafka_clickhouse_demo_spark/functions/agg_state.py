"""Decomposable aggregate state columns — the engine analogue of ClickHouse
`AggregateFunction(max|min|avg, ...)` state + `-State`/`-Merge` combinators
(/root/reference/README.rst:210-212, 226-228, 267-269; SURVEY.md §2.4 A6/A7).

The model: a *state* is an ordinary column value produced by a partial
aggregation over one block of rows; *merge* recombines states from many
blocks into the exact final aggregate.  max/min states are scalars (their
merge is max/min again); avg state is a `(sum, count)` struct.  This is the
classic decomposable-aggregate identity Catalyst itself uses for
partial/final hash aggregation — here it is exposed as user-visible stored
columns so partial pre-aggregates can be persisted and rolled up later
(merge-on-read), exactly like SummingMergeTree + `-Merge` readers.

Invariant (property-tested in tests/test_agg_state.py): for ANY partition of
the input rows into blocks,
    merge(state(block_1), ..., state(block_n)) == agg(all rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.schemas import UINT16_MAX, UINT16_MIN

# -- state builders (use inside a per-block groupBy().agg()) ---------------


def max_state(c: Column | str) -> Column:
    """maxState(c) (README.rst:226): per-block partial max."""
    return F.max(c)


def min_state(c: Column | str) -> Column:
    """minState(c) (README.rst:227): per-block partial min."""
    return F.min(c)


def avg_state(c: Column | str) -> Column:
    """avgState(c) (README.rst:228): per-block `(sum, count)` struct.

    Sum is widened to long so merges cannot overflow for UInt16-domain
    inputs at any realistic cardinality.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.struct(
        F.sum(col.cast("long")).alias("sum"),
        F.count(col).alias("count"),
    )


# -- merge readers (use inside the roll-up groupBy().agg()) ----------------


def max_merge(state: Column | str) -> Column:
    """maxMerge (README.rst:267)."""
    return F.max(state)


def min_merge(state: Column | str) -> Column:
    """minMerge (README.rst:268)."""
    return F.min(state)


def avg_merge(state: Column | str) -> Column:
    """avgMerge (README.rst:269): sum(sum)/sum(count) over stored states."""
    s = F.col(state) if isinstance(state, str) else state
    return F.sum(s["sum"]) / F.sum(s["count"])


def sum_states(state: Column | str) -> Column:
    """SummingMergeTree same-key collapse for avg states (README.rst:214):
    component-wise sum, producing one combined state row per key."""
    s = F.col(state) if isinstance(state, str) else state
    return F.struct(
        F.sum(s["sum"]).alias("sum"),
        F.sum(s["count"]).alias("count"),
    )


# -- uniq (HLL) state: AggregateFunction(uniq) parity ----------------------
#
# ClickHouse `uniqState`/`uniqMerge` persist a mergeable count-distinct
# sketch per block and combine sketches on read or in SummingMergeTree
# compaction.  The Spark-first state is the built-in Apache DataSketches
# HLL binary (`hll_sketch_agg`, JVM-side, map-side combinable) — strictly
# better than a hand-rolled register-array struct: the union is a single
# aggregate expression, so the same `storage.compact_summing` merge (one
# `TransactionalTable.optimize` commit) that collapses max/min/avg states
# collapses uniq states, and the sketch encoding is a
# portable, versioned format rather than an ad-hoc array.
#
# Determinism contract: unioning per-block sketches built with one lg_k
# reproduces the registers of the single whole-input sketch, so the merged
# ESTIMATE equals the direct estimate exactly (property-tested in
# tests/test_agg_state.py), while the estimate-vs-exact error follows the
# usual ~1.04/sqrt(2^lg_k) HLL bound (tests/test_approx_sketches.py).


def uniq_state(c: Column | str, lg_k: int = 12) -> Column:
    """uniqState(c) (AggregateFunction(uniq) parity): per-block HLL sketch
    as a binary state column.  lg_k=12 -> 4096 registers, ~0.8 KB, ~1.6%
    relative standard error."""
    return F.hll_sketch_agg(c, F.lit(lg_k))


def uniq_merge_state(state: Column | str) -> Column:
    """SummingMergeTree same-key collapse for uniq states: union many
    stored sketches into one combined sketch (state -> state, lossless)."""
    return F.hll_union_agg(state)


def uniq_merge(state: Column | str) -> Column:
    """uniqMerge: merged approximate count-distinct over stored sketch
    states (state -> final long)."""
    return F.hll_sketch_estimate(F.hll_union_agg(state))


# -- unsigned-domain check (SURVEY.md §4 "custom work (c)") -----------------


def check_uint16_domain(df: DataFrame, column: str) -> DataFrame:
    """Assert `column` stays in the ClickHouse UInt16 domain [0, 65535].

    Spark has no unsigned types (SURVEY.md §1.3); the engine stores UInt16
    as int and enforces the domain at write time.  Raises ValueError with
    the offending count if violated; returns df unchanged otherwise.
    NULL is a violation too — ClickHouse UInt16 is non-nullable, and a
    bare range predicate would let NULLs slip through as unknowns
    (code-review r6).
    """
    n_bad = df.filter(
        (F.col(column) < UINT16_MIN)
        | (F.col(column) > UINT16_MAX)
        | F.col(column).isNull()
    ).count()
    if n_bad:
        raise ValueError(
            f"column {column!r}: {n_bad} rows outside UInt16 domain "
            f"[{UINT16_MIN}, {UINT16_MAX}]"
        )
    return df
