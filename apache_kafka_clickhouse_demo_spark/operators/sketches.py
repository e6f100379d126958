"""Frequent-items (heavy hitters) sketch — the `topK` aggregate.

ClickHouse's `topK(k)(col)` answers "the k most frequent values" with a
bounded-memory frequent-items sketch instead of a full `GROUP BY` when the
value domain is too large to count exactly.  Spark has no built-in; this
is the Misra-Gries / SpaceSaving family re-expressed for Spark's two-level
aggregation model, per the mergeable-summaries result (Agarwal, Cormode,
Huang, Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012): a
Misra-Gries summary of capacity C can be merged by adding counters and
subtracting the (C+1)-th largest merged count, preserving the error bound
`undercount <= n / (C+1)`.

Plan shape (the 100 TB contract):

1. `mapInPandas` over the raw column: each task folds its Arrow batches
   into a capacity-C Misra-Gries summary (vectorized `value_counts` per
   batch, then the merge-and-trim step above — never a per-row Python
   loop).  Memory per task is O(C); output is <= C+1 rows per task however
   many billions of rows it scanned.
2. One shuffle of the tiny summaries: `groupBy(value).sum` adds the
   per-task lower-bound counters (map-side combinable).
3. The total possible undercount — sum of every task's trim error — is a
   1-row aggregate broadcast onto the survivors; top-k orders by the
   summed lower bound.

Exactness contract (what makes the sketch gate-able): every trim error is
ZERO while each task's observed distinct values fit in C, so with
C >= distinct(col) the sketch IS the exact top-k — the same
coupon-collector-style exactness regime the HLL gate query uses.  The
output carries both bounds (`count_lb`, `count_ub`); `count_lb == count_ub`
certifies the exact regime, and production keeps C at e.g. 2^14 for a
guaranteed n/C error on arbitrary domains.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SUMMARY_SCHEMA = T.StructType(
    [
        T.StructField("value", T.StringType()),  # NULL on the error sentinel row
        T.StructField("count_lb", T.LongType()),
        T.StructField("trim_err", T.LongType()),
    ]
)


def _mg_trim(counts: pd.Series, capacity: int) -> tuple[pd.Series, int]:
    """Misra-Gries merge step: keep <= capacity counters by subtracting the
    (capacity+1)-th largest count from every counter and dropping the
    non-positive ones.  Returns (trimmed counters, subtracted amount)."""
    if len(counts) <= capacity:
        return counts, 0
    # kth largest (0-indexed capacity) — the subtrahend
    sub = int(counts.nlargest(capacity + 1).iloc[capacity])
    trimmed = counts - sub
    return trimmed[trimmed > 0], sub


def _mg_fold(count_batch, capacity: int):
    """Shared Misra-Gries partition fold: accumulate per-batch counts
    (produced by `count_batch`) with merge-and-trim, emit <= capacity
    summary rows plus the error sentinel.  ONE skeleton for the
    unweighted and weighted twins — a fix to the trim-error accounting
    or the sentinel shape cannot diverge between them (code-review
    r12; the bm25_score_topk no-drift precedent)."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = pd.Series(dtype="int64")
        err = 0
        for pdf in batches:
            vc = count_batch(pdf)
            if vc.empty:
                continue
            # concat + groupby-sum, NOT acc.add(vc, fill_value=0): add's
            # reindex upcasts to float64 whenever a key is new on either
            # side, silently capping exactness at 2^53 (ADVICE r12); the
            # concat fold keeps both int64 inputs integer end-to-end.
            acc = pd.concat([acc, vc]).groupby(level=0).sum().astype("int64")
            acc, sub = _mg_trim(acc, capacity)
            err += sub
        out = pd.DataFrame(
            {
                "value": acc.index.astype(str),
                "count_lb": acc.to_numpy(dtype="int64"),
                "trim_err": 0,
            }
        )
        sentinel = pd.DataFrame(
            {"value": [None], "count_lb": [0], "trim_err": [err]}
        )
        yield pd.concat([out, sentinel], ignore_index=True)

    return fold


def _mg_partition(capacity: int):
    return _mg_fold(lambda pdf: pdf["value"].dropna().value_counts(), capacity)


def heavy_hitters_topk(
    df: DataFrame,
    col: str,
    k: int,
    capacity: int = 1 << 14,
) -> DataFrame:
    """`topK(k)(col)` — the k most frequent values of `col` with
    frequency bounds: (value string, count_lb, count_ub), ordered by
    count_lb desc then value asc (full deterministic tiebreak).

    `count_lb <= true_count <= count_ub`; the spread is the summed
    Misra-Gries trim error, zero (exact) while per-task distincts fit in
    `capacity`.  Values are compared as strings (cast once, JVM-side) so
    one operator serves any input type.
    """
    src = df.select(F.col(col).cast("string").alias("value"))
    # persist: the counter aggregate AND the error total both read the
    # summaries; without materialization each consumer re-runs the
    # dominant mapInPandas fold over the whole input — and two
    # independent executions could batch differently, decoupling the
    # count_lb/count_ub bounds from one another.  The cached frame is
    # <= (capacity + 1) rows per task, not input-sized.
    summaries = src.mapInPandas(_mg_partition(capacity), _SUMMARY_SCHEMA).persist()
    return finalize_topk(summaries, k)


def _mgw_partition(capacity: int):
    """Weighted Misra-Gries fold: the `_mg_fold` skeleton with each row
    incrementing its value's counter by the row's WEIGHT instead of 1
    (vectorized groupby-sum per Arrow batch).  The mergeable-summaries
    result holds unchanged for weighted updates — a weighted stream is
    the unweighted stream with each row repeated `weight` times, folded
    in one step."""

    def count_batch(pdf: pd.DataFrame) -> pd.Series:
        pdf = pdf.dropna(subset=["value", "w"])
        pdf = pdf[pdf["w"] > 0]
        # A batch that CONTAINED nulls materialized `w` as float64
        # (pandas nullable-long convention); summing in float64 is only
        # exact below 2^53, which would silently cap the integer-exact
        # contract.  Re-anchor to int64 AFTER the drop so the fold is
        # integer end-to-end (ADVICE r12).
        return pdf.assign(w=pdf["w"].astype("int64")).groupby("value")["w"].sum()

    return _mg_fold(count_batch, capacity)


def heavy_hitters_topk_weighted(
    df: DataFrame,
    col: str,
    weight_col,
    k: int,
    capacity: int = 1 << 14,
) -> DataFrame:
    """`topKWeighted(k)(col, weight)` — the k values with the largest
    WEIGHT SUM (revenue per user, bytes per domain, tokens per source),
    with the same bounded-memory guarantees and output contract as
    `heavy_hitters_topk`: (value, count_lb, count_ub), count_lb desc
    then value asc, `undercount <= total_weight / (capacity+1)`, exact
    (count_lb == count_ub) while per-task distincts fit in `capacity`.

    `weight_col` is a column name or Column expression; it must be
    integer-valued (convert money/doubles upstream — the house
    value_cents rule keeps the sketch integer-exact).  Stated contract,
    mirrored by the oracle: rows with NULL values and NULL or
    NON-POSITIVE weights are dropped (Misra-Gries counters only move
    up; zero-weight rows would burn capacity slots for nothing).

    Same plan shape as the unweighted sketch: per-task Arrow fold to
    <= capacity+1 summary rows, one tiny-summary shuffle, 1-row error
    broadcast — the 100 TB contract is the summary size, which the
    weight column does not change."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    src = df.select(
        F.col(col).cast("string").alias("value"), w.cast("long").alias("w")
    )
    # persist for the same two-consumer reason as heavy_hitters_topk
    summaries = src.mapInPandas(_mgw_partition(capacity), _SUMMARY_SCHEMA).persist()
    return finalize_topk(summaries, k)


def finalize_topk(summaries: DataFrame, k: int) -> DataFrame:
    """Shared answer tail over a frame of MG summary rows (data rows +
    error sentinels, `_SUMMARY_SCHEMA`): sum the lower-bound counters per
    value, broadcast the 1-row total-error aggregate onto them, and take
    the top k with both bounds.  Used by the batch operator above and the
    streaming store's read path (`streaming/stateful.py`)."""
    counters = (
        summaries.filter(F.col("value").isNotNull())
        .groupBy("value")
        .agg(F.sum("count_lb").alias("count_lb"))
    )
    total_err = summaries.agg(
        F.coalesce(F.sum("trim_err"), F.lit(0)).cast("long").alias("_err")
    )
    return (
        counters.crossJoin(F.broadcast(total_err))
        .select(
            "value",
            F.col("count_lb").cast("long").alias("count_lb"),
            (F.col("count_lb") + F.col("_err")).cast("long").alias("count_ub"),
        )
        .orderBy(F.desc("count_lb"), F.asc("value"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Count-min sketch (point-frequency estimates; Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def count_min_build(
    df: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cms:",
) -> DataFrame:
    """Build a count-min sketch of `key_col`'s frequencies: `depth`
    independent hash rows of `width` counters each, answering point
    queries with the classic one-sided guarantee

        exact <= estimate <= exact + e*N   (e ~ e_base/width, w.h.p.)

    — the mergeable companion to the Misra-Gries topK above (Misra-Gries
    answers "which values are frequent", CMS answers "how frequent is
    THIS value" for any value, in O(depth * width) memory however large
    the key domain).  Hash row d uses h48 seeded `{salt}{d}:` — the
    engine-portable hash family, so the sketch (and every estimate) is
    DETERMINISTIC and the DuckDB oracle mirrors it exactly; "w.h.p."
    degrades to a fixed-hash property exactly as documented for the HLL
    gate query.

    Output: (d, bucket, n) — at most depth*width rows (usually
    broadcastable).  Merge two sketches of the SAME (width, depth, salt)
    by summing n per (d, bucket) — counters are linear, the mergeable-
    summaries property that also makes the build ONE map-side-combinable
    aggregate (the row fan-out is `depth`, a small constant).  NULL keys
    are counted under the engine's NULL-key convention (h48 of NULL is
    NULL -> they fall out of every bucket; stated contract: CMS counts
    non-NULL keys).

    Plan shape at 100 TB: one projection (depth-way arrayed fan-out) +
    one groupBy((d, bucket)) count with partial aggregation — grouping
    cardinality is depth*width regardless of input rows.
    """
    if width < 1 or depth < 1:
        raise ValueError("width and depth must be >= 1")
    return _count_min_build(df, _cms(key_col, width, depth, salt))


class _Cms(NamedTuple):
    """The columns `count_min_build` and `count_min_lookup` share, built
    once by a caller that plans many blocks (`_cms`)."""

    key: Column  # the key column
    counted: Column  # the key is not NULL
    fan: Column  # the key's `depth` (d, bucket) cells, exploded as `c`
    cell: list  # c.d AS d, c.bucket AS bucket
    n: Column  # a cell's count
    est: Column  # a key's estimate: the min over its cells


def _cms(key_col: str, width: int, depth: int, salt: str) -> _Cms:
    from apache_kafka_clickhouse_demo_spark.functions import hashing as H

    key = F.col(key_col)
    k = key.cast("string")
    cells = F.array(
        *[
            F.struct(
                F.lit(d).alias("d"),
                F.pmod(
                    H.h48(F.concat(F.lit(f"{salt}{d}:"), k)), F.lit(width)
                ).cast("int").alias("bucket"),
            )
            for d in range(depth)
        ]
    )
    return _Cms(
        key=key,
        counted=k.isNotNull(),
        fan=F.explode(cells).alias("c"),
        cell=[F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket")],
        n=F.count(F.lit(1)).alias("n"),
        est=F.min(F.coalesce(F.col("n"), F.lit(0))).cast("long").alias("est"),
    )


def _count_min_build(df: DataFrame, cms: _Cms) -> DataFrame:
    from apache_kafka_clickhouse_demo_spark.sources.tables import spread_small

    return (
        spread_small(df)
        .filter(cms.counted)
        .select(cms.fan)
        .groupBy(*cms.cell)
        .agg(cms.n)
    )


def dyadic_decompose(lo: int, hi: int) -> list[tuple[int, int]]:
    """Minimal dyadic cover of the half-open integer range [lo, hi) as
    (level, key) pieces, where the piece at (l, k) covers
    [k << l, (k+1) << l) — the classic segment-tree decomposition,
    at most 2 pieces per level.  Pure Python, driver-side: range
    queries inline their decomposition as LITERALS into both the
    engine plan and the oracle, so the two sides provably sum the same
    cells."""
    out: list[tuple[int, int]] = []
    level = 0
    while lo < hi:
        if lo & 1:
            out.append((level, lo))
            lo += 1
        if hi & 1:
            hi -= 1
            out.append((level, hi))
        lo >>= 1
        hi >>= 1
        level += 1
    return sorted(out)


def dyadic_cms_build(
    df: DataFrame,
    value_col: str,
    universe_bits: int = 16,
    width: int = 2048,
    depth: int = 3,
    salt: str = "dcms:",
    weight_col: str | None = None,
) -> DataFrame:
    """Dyadic count-min structure (Cormode & Muthukrishnan 2005 §4.2 —
    the CMS extension that answers RANGE counts, the building block of
    sketch quantiles): one CMS per dyadic level l = 0..universe_bits,
    where level l counts the value's prefix v >> l.  A range estimate
    sums O(2 * universe_bits) point estimates of its dyadic cover, so
    it inherits the point query's one-sided guarantee: never an
    undercount, overcount bounded by the per-level collision mass.

    Stated contract: values must be integers in [0, 2^universe_bits);
    NULL and out-of-range rows are dropped (range mass only moves up).
    With `weight_col` the structure counts WEIGHT MASS instead of rows
    (ClickHouse `quantileTimingWeighted`-class parity): integer weights,
    NULL and non-positive weights dropped — the topKWeighted
    convention; everything downstream (range counts, quantiles) then
    answers over the weighted distribution unchanged.
    Hash row (l, d) seeds h48 with `{salt}{l}:{d}:` — engine-portable,
    so every counter (and every estimate) is deterministic and the
    DuckDB oracle mirrors the grid exactly (the count_min_build
    precedent).

    Output: (level, d, bucket, n) — at most
    (universe_bits+1) * depth * width rows by CONSTRUCTION, whatever
    the corpus.  Counters are linear: merge sketches of the same
    (universe_bits, width, depth, salt) by summing n per cell — the
    same mergeability that would back a streaming twin.

    Plan shape at 100 TB: the CORPUS-scale work is ONE
    map-side-combinable groupBy(value) count whose cardinality is
    bounded by the UNIVERSE (2^universe_bits), not the corpus; the
    (universe_bits+1) * depth hash fan-out then runs over that bounded
    distinct-value frame — the "statistics live on the distinct frame"
    house pattern (a per-ROW fan-out measured 30x wall at the 100x
    rehearsal before this restatement; the aggregate-first shape is
    near-flat).
    """
    if width < 1 or depth < 1 or not 1 <= universe_bits <= 62:
        raise ValueError("need width, depth >= 1 and 1 <= universe_bits <= 62")
    return _dyadic_cms_build(
        df, _dcms(value_col, universe_bits, width, depth, salt), weight_col
    )


class _Dcms(NamedTuple):
    """The columns `dyadic_cms_build` plans with, built once by a caller
    that plans many blocks (`_dcms`)."""

    value: Column  # the value as a long, aliased `_v`
    kept: Column  # the value is in [0, 2^universe_bits)
    count: Column  # a distinct value's row count, aliased `_cnt`
    fan: Column  # a distinct value's (level, d, bucket) cells, exploded as `c`
    cell: list  # c.level AS level, c.d AS d, c.bucket AS bucket
    n: Column  # a cell's count mass


def _dcms(
    value_col: str, universe_bits: int, width: int, depth: int, salt: str
) -> _Dcms:
    from apache_kafka_clickhouse_demo_spark.functions import hashing as H

    v = F.col(value_col).cast("long")
    cells = F.array(
        *[
            F.struct(
                F.lit(lvl).alias("level"),
                F.lit(d).alias("d"),
                F.pmod(
                    H.h48(
                        F.concat(
                            F.lit(f"{salt}{lvl}:{d}:"),
                            F.shiftright(F.col("_v"), lvl).cast("string"),
                        )
                    ),
                    F.lit(width),
                ).cast("int").alias("bucket"),
            )
            for lvl in range(universe_bits + 1)
            for d in range(depth)
        ]
    )
    return _Dcms(
        value=v.alias("_v"),
        kept=v.isNotNull() & (v >= 0) & (v < (1 << universe_bits)),
        count=F.count(F.lit(1)).alias("_cnt"),
        fan=F.explode(cells).alias("c"),
        cell=[
            F.col("c.level").alias("level"),
            F.col("c.d").alias("d"),
            F.col("c.bucket").alias("bucket"),
        ],
        n=F.sum("_cnt").alias("n"),
    )


def _dyadic_cms_build(
    df: DataFrame, dcms: _Dcms, weight_col: str | None = None
) -> DataFrame:
    from apache_kafka_clickhouse_demo_spark.sources.tables import spread_small

    kept = spread_small(df).filter(dcms.kept)
    if weight_col is None:
        base = kept.groupBy(dcms.value).agg(dcms.count)
    else:
        w = F.col(weight_col).cast("long")
        base = (
            kept.filter(w.isNotNull() & (w > 0))
            .groupBy(dcms.value)
            .agg(F.sum(w).alias("_cnt"))
        )
    return base.select("_cnt", dcms.fan).groupBy(*dcms.cell).agg(dcms.n)


def dyadic_cms_range_counts(
    sketch: DataFrame,
    ranges: list[tuple[int, int, int]],
    universe_bits: int = 16,
    width: int = 2048,
    depth: int = 3,
    salt: str = "dcms:",
) -> DataFrame:
    """Range-count estimates against a dyadic CMS built with the SAME
    parameters.  `ranges` is a literal list of (range_id, lo, hi)
    half-open integer ranges; each decomposes driver-side
    (`dyadic_decompose`) into <= 2 * universe_bits (level, key) pieces,
    each piece estimates as min-over-d of its addressed counters
    (absent counter = 0), and the range estimate is the SUM of its
    piece estimates — never an undercount.

    Output: (range_id, lo, hi, est long), one row per input range.
    Plan: the literal piece table (|ranges| * pieces * depth rows, all
    bounded by construction) joins the bounded sketch — broadcast on
    the sketch side, no corpus-scale work at query time."""
    from apache_kafka_clickhouse_demo_spark.functions import hashing as H

    spark = sketch.sparkSession
    rows = []
    for rid, lo, hi in ranges:
        if not 0 <= lo <= hi <= (1 << universe_bits):
            raise ValueError(f"range {rid}: [{lo}, {hi}) outside the universe")
        for lvl, key in dyadic_decompose(lo, hi):
            for d in range(depth):
                rows.append(
                    (
                        int(rid),
                        int(lo),
                        int(hi),
                        lvl,
                        key,
                        d,
                        H.py_h48(f"{salt}{lvl}:{d}:{key}") % width,
                    )
                )
    # schema order MUST mirror the tuple append order above
    # (rid, lo, hi, level, key, d, bucket)
    pieces = spark.createDataFrame(
        rows,
        "range_id int, lo long, hi long, level int, key long, d int, bucket int",
    )
    joined = pieces.join(F.broadcast(sketch), ["level", "d", "bucket"], "left")
    per_piece = joined.groupBy("range_id", "lo", "hi", "level", "key").agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).alias("piece_est")
    )
    return (
        per_piece.groupBy("range_id", "lo", "hi")
        .agg(F.sum("piece_est").cast("long").alias("est"))
        .orderBy("range_id")
    )


def dyadic_range_counts_py(
    cells: dict[tuple[int, int, int], int],
    ranges: list[tuple[int, int, int]],
    universe_bits: int = 16,
    width: int = 2048,
    depth: int = 3,
    salt: str = "dcms:",
) -> list[tuple[int, int, int, int]]:
    """Driver-side mirror of `dyadic_cms_range_counts` over an
    already-MERGED cell dict {(level, d, bucket): n} — the identical
    integer rule (per-piece min-over-d with absent = 0, per-range sum
    of pieces, ranges with an empty dyadic cover omitted exactly as the
    distributed groupBy drops them) via the same py_h48 addressing, so
    the two forms are bit-identical by construction.  All-integer: no
    accumulation-order or float divergence is possible.

    This is the r15 streaming-drain shape: the writer's merged grid is
    bounded by construction and already driver-resident for the
    quantile walk, so the per-block range estimates cost zero extra
    cluster jobs.  The distributed form stays the batch/query-time
    shape.  Returns (range_id, lo, hi, est) tuples ordered by
    range_id."""
    from apache_kafka_clickhouse_demo_spark.functions.hashing import py_h48

    out: list[tuple[int, int, int, int]] = []
    for rid, lo, hi in ranges:
        if not 0 <= lo <= hi <= (1 << universe_bits):
            raise ValueError(f"range {rid}: [{lo}, {hi}) outside the universe")
        pieces = dyadic_decompose(lo, hi)
        if not pieces:  # empty range: the distributed groupBy emits no row
            continue
        est = 0
        for lvl, key in pieces:
            est += min(
                cells.get((lvl, d, py_h48(f"{salt}{lvl}:{d}:{key}") % width), 0)
                for d in range(depth)
            )
        out.append((int(rid), int(lo), int(hi), int(est)))
    out.sort(key=lambda t: t[0])
    return out


def dyadic_quantiles_py(
    cells: dict[tuple[int, int, int], int],
    ps: list[int],
    universe_bits: int = 16,
    width: int = 2048,
    depth: int = 3,
    salt: str = "dcms:",
) -> list[tuple[int, int, int]]:
    """The descent walk of `dyadic_quantiles` over an already-merged
    cell dict — factored out (r15) so the streaming writer's per-block
    live-quantile publish shares the EXACT walk with the batch operator
    instead of re-collecting the merged grid through a cluster job.
    Returns (p_permille, target_rank, q_value) tuples sorted by p;
    empty when the sketch holds no in-universe mass."""
    from apache_kafka_clickhouse_demo_spark.functions.hashing import py_h48

    if width < 1 or depth < 1 or not 1 <= universe_bits <= 62:
        raise ValueError("need width, depth >= 1 and 1 <= universe_bits <= 62")
    for p in ps:
        if not 0 < int(p) <= 1000:
            raise ValueError(f"permille fraction {p} outside (0, 1000]")

    def est(lvl: int, key: int) -> int:
        # min-over-d of the addressed counters, absent = 0 — the exact
        # integer rule the distributed walk and the SQL mirror apply
        return min(
            cells.get(
                (lvl, d, py_h48(f"{salt}{lvl}:{d}:{key}") % width), 0
            )
            for d in range(depth)
        )

    n_total = est(universe_bits, 0)
    out: list[tuple[int, int, int]] = []
    if n_total >= 1:
        for p in sorted(int(p) for p in ps):
            target = (p * n_total + 999) // 1000
            rem, pos = target, 0
            for lvl in range(universe_bits - 1, -1, -1):
                left = est(lvl, pos * 2)
                if left >= rem:
                    pos = pos * 2
                else:
                    rem -= left
                    pos = pos * 2 + 1
            out.append((p, target, pos))
    return out


def dyadic_quantiles(
    sketch: DataFrame,
    ps: list[int],
    universe_bits: int = 16,
    width: int = 2048,
    depth: int = 3,
    salt: str = "dcms:",
) -> DataFrame:
    """Sketch quantiles over a dyadic CMS built with the SAME parameters
    — the stated point of the dyadic structure (Cormode & Muthukrishnan
    2005 §5: quantiles by binary search over prefix range counts), and
    the `quantileTiming`-class ClickHouse parity path for UNBOUNDED
    group cardinality where exact `weighted_quantiles`' per-group
    window funnel is the stated trade.

    `ps` is a literal list of permille fractions (integer house rule,
    0 < p <= 1000).  For each p the target rank is
    r = ceil(p * N / 1000) computed integer-exactly, where N is the
    ROOT cell's estimate (level `universe_bits` has the single key 0,
    so its min-over-d estimate is the EXACT in-universe count — no
    collision partner exists).  The returned q_value is the level-0 key
    reached by the classic descent: starting at the root with `rem = r`,
    at each level estimate the LEFT child (min-over-d of its addressed
    counters, absent = 0) and descend left when the estimate covers
    `rem`, else subtract it and descend right.

    One-sided error, inherited from CMS never-undercounting: node
    estimates only exceed true prefix counts, so the walk can only turn
    left EARLY — q_value never exceeds the exact integer-rule quantile
    (smallest v with count([0, v]) >= r), and in the no-collision
    regime it EQUALS it.  Both pinned in tests/test_dyadic_cms.py.

    Output: (p_permille int, target_rank long, q_value long), one row per p;
    empty when the sketch holds no in-universe mass (N = 0).

    Plan shape at 100 TB: ZERO corpus-scale work at query time — the
    sketch is bounded by construction at (universe_bits+1)*depth*width
    cells WHATEVER the corpus size, so this operator collects it once
    (a bounded driver action, ~100k small-int rows at the gate
    parameters — the probe-cell / QC_BUCKETS class, bound stated here)
    and walks the |ps| descents driver-side via the py_h48 mirror of
    the grid's own h48 addressing.  The r13 form ran the walk as
    universe_bits chained broadcast joins — also corpus-independent,
    but 16 sequential shuffle stages of scheduling latency per descent,
    which the r14 live-quantile drain pays per BLOCK; measured 66 -> ~25 s
    on the 4-block drain after this rewrite, bit-identical output (the
    DuckDB oracle replays the same walk and stays hash-exact).
    """
    if width < 1 or depth < 1 or not 1 <= universe_bits <= 62:
        raise ValueError("need width, depth >= 1 and 1 <= universe_bits <= 62")
    for p in ps:
        if not 0 < int(p) <= 1000:
            raise ValueError(f"permille fraction {p} outside (0, 1000]")
    spark = sketch.sparkSession
    # bounded driver collect: <= (universe_bits+1)*depth*width cells by
    # construction — the ONLY corpus-scale work is the upstream build
    cells: dict[tuple[int, int, int], int] = {}
    for r in sketch.select("level", "d", "bucket", "n").collect():
        key = (r["level"], r["d"], r["bucket"])
        if key in cells:
            # ADVICE r14: a dict keyed on the cell address would silently
            # keep the LAST row of an un-merged store read (the r13
            # distributed walk took a min over joined rows — a different
            # wrong answer).  Counters are linear, so duplicates mean the
            # caller skipped the groupBy-sum merge; fail loudly instead
            # of walking a corrupted grid.
            raise ValueError(
                f"dyadic_quantiles: duplicate sketch cell {key} — pass a "
                "merged sketch (groupBy(level,d,bucket).sum(n)), not raw "
                "store increments"
            )
        cells[key] = r["n"]

    out = dyadic_quantiles_py(
        cells, ps, universe_bits=universe_bits, width=width, depth=depth,
        salt=salt,
    )
    return spark.createDataFrame(
        out, "p_permille int, target_rank long, q_value long"
    ).orderBy("p_permille")


def count_min_lookup(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cms:",
) -> DataFrame:
    """Point-frequency estimates for `keys` against a sketch built with
    the SAME (width, depth, salt): estimate = min over hash rows of the
    addressed counter (0 when a row's counter is absent — an empty
    bucket means nothing hashed there).

    Output: (<key_col>, est long).  The estimate NEVER undercounts
    (every occurrence of the key incremented all `depth` of its
    counters; collisions only add).  Plan: the keys fan out depth cells
    row-locally and join the bounded sketch (depth*width rows,
    broadcast) — per-key cost O(depth), no window, no driver collect.
    """
    return _count_min_lookup(sketch, keys, _cms(key_col, width, depth, salt))


def _count_min_lookup(sketch: DataFrame, keys: DataFrame, cms: _Cms) -> DataFrame:
    fanned = keys.select(cms.key, cms.fan).select(cms.key, *cms.cell)
    # sketch is depth*width rows, bounded by construction -> broadcast
    joined = fanned.join(F.broadcast(sketch), ["d", "bucket"], "left")
    return joined.groupBy(cms.key).agg(cms.est)
