"""Sorted/partitioned columnar storage — the MergeTree-family write path.

The reference's storage tables are columnar with an explicit sort key and
background merges (`ENGINE = MergeTree ORDER BY ...`,
/root/reference/README.rst:88-89, 135-136, 214-216).  The Spark-first
analogue (SURVEY.md §2.1 S5/S6, §2.6 O4):

- `write_sorted`   : partitioned parquet, rows sorted *within* each task
                     before write.  Parquet row-group min/max stats on the
                     sort column then give the same range-scan pruning as the
                     MergeTree sparse primary index; `partition_cols` adds
                     coarse partition pruning on top.
- `insert_into`    : `INSERT INTO ... SELECT` batch backfill (S7,
                     README.rst:178-185, 242-252) — append of an arbitrary
                     transformed DataFrame into a live table directory.
- `compact_summing`, `compact_replacing`, `compact_collapsing`, `apply_ttl`:
                     the MergeTree-family background merges (S6/A8,
                     README.rst:214-216).  Each one is a single
                     `TransactionalTable.optimize` replace commit on a
                     transactional table, so a concurrent reader sees the
                     snapshot before the merge or the one after it, never
                     a partial table.

At 100 TB the write pattern is the same: `repartition(partition_cols)` keeps
one shuffle whose output is aligned with the directory layout, and each task
writes one sorted file per directory instead of #tasks x #partitions
fragments.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable


def zorder_value(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton (Z-order) key: interleave the low `bits` bits of each column.

    A single-column sort (`write_sorted`) gives perfect row-group pruning
    on that column and none on any other; Z-ordering the sort key over k
    columns makes every row group a small hyper-rectangle in all k
    dimensions, so min/max stats prune selective predicates on ANY of them
    — the multi-dimensional generalization of the MergeTree `ORDER BY`
    analogue (what Delta's OPTIMIZE ZORDER BY does).

    Inputs must be NON-NEGATIVE integers already normalized into
    [0, 2^bits) — rank/bucket/scale upstream (day numbers, hash buckets,
    quantized measures); values are masked to `bits` bits, so out-of-range
    inputs wrap rather than error.  The key is k*bits bits and must fit a
    long: k * bits <= 63.  Pure bit arithmetic — whole-stage codegen, no
    shuffle beyond the write's own repartition.
    """
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    if len(cs) * bits > 63:
        raise ValueError(f"{len(cs)} cols x {bits} bits exceeds a long")
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, c in enumerate(cs):
            src_bit = c.cast("long").bitwiseAND(F.lit(1 << b).cast("long"))
            # bit b of column i lands at position b*k + i
            shift = b * (len(cs) - 1) + i
            z = z + F.shiftleft(src_bit, shift)
    return z


def zorder_cluster_key(df: DataFrame, cluster_cols: list[str], bits: int = 8) -> Column:
    """Morton clustering key over ARBITRARY columns — the normalization
    front-end `zorder_value` deliberately leaves to the caller, packaged
    for `TransactionalTable.optimize(cluster_cols=...)`.

    Per-column mapping into the required non-negative [0, 2^bits) domain:

    - numeric / timestamp / date: min/max-scaled onto the grid.  The
      min/max pairs come from ONE aggregate over `df` — a bounded driver
      action (2k scalars), the same class as the IVF memoized count.
      Min/max scaling is skew-sensitive (a single outlier compresses the
      rest of the range onto few grid cells); for heavily skewed measures
      pre-bucket upstream and pass the bucket column instead.
    - string / binary / anything else: `xxhash64` masked to `bits` bits.
      Equal values land in the same cell (file stats still prune equality
      predicates); range locality is not preserved, which string
      predicates rarely want.

    Compaction runs offline, so the extra scan for min/max is paid once
    per OPTIMIZE, not per query.
    """
    scaled: list[Column] = []
    need_stats: list[tuple[int, Column]] = []  # (slot, raw double expr)
    for c in cluster_cols:
        dt = df.schema[c].dataType.simpleString()
        if dt == "date":
            raw = F.col(c).cast("timestamp").cast("double")
        elif dt in ("int", "bigint", "smallint", "tinyint", "float", "double") or dt.startswith(("decimal", "timestamp")):
            # exact names, not startswith("int") — that would also match
            # interval types, which cannot cast to double
            raw = F.col(c).cast("double")
        else:
            scaled.append(F.pmod(F.xxhash64(F.col(c)), F.lit(1 << bits)))
            continue
        need_stats.append((len(scaled), raw))
        scaled.append(raw)  # placeholder, replaced below
    if need_stats:
        stats = df.agg(
            *[F.min(raw).alias(f"lo{i}") for i, (_, raw) in enumerate(need_stats)],
            *[F.max(raw).alias(f"hi{i}") for i, (_, raw) in enumerate(need_stats)],
        ).first()
        for i, (slot, raw) in enumerate(need_stats):
            lo, hi = stats[f"lo{i}"], stats[f"hi{i}"]
            if lo is None or hi is None or hi <= lo:
                scaled[slot] = F.lit(0)
            else:
                grid = float((1 << bits) - 1)
                scaled[slot] = F.floor(
                    (F.coalesce(raw, F.lit(lo)) - F.lit(lo)) / F.lit(hi - lo) * F.lit(grid)
                )
    return zorder_value(scaled, bits=bits)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    partition_cols: list[str] | None = None,
    mode: str = "overwrite",
    bloom_cols: list[str] | None = None,
    bloom_ndv: int = 100_000,
) -> None:
    """MergeTree `ORDER BY` analogue: sorted, optionally partitioned parquet.

    Rows are shuffled once onto the partition columns (so each output
    directory is produced by few tasks), then sorted within each task on the
    sort key before writing — every parquet file is internally sorted and
    its row-group stats are tight, which is what makes P3-style timestamp
    range predicates prune like a sparse primary index.

    `bloom_cols` is the skip-index analogue (`INDEX ... TYPE bloom_filter`):
    per-column parquet split-block bloom filters for columns the sort key
    gives NO min/max locality on (ids, hashes, tags).  A point predicate on
    a bloomed column skips whole row groups at scan time inside the parquet
    reader — the same "skip granules without reading them" contract as the
    MergeTree secondary index, paid for with ~1.2 bytes/distinct-value of
    file space (`bloom_ndv` sizes the filter; overshooting wastes bytes,
    undershooting inflates the false-positive rate toward useless).
    """
    out = df
    if partition_cols:
        out = out.repartition(*[F.col(c) for c in partition_cols])
        out = out.sortWithinPartitions(*[*partition_cols, *sort_cols])
    else:
        out = out.sortWithinPartitions(*sort_cols)
    writer = out.write.mode(mode)
    for c in bloom_cols or []:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
        writer = writer.option(f"parquet.bloom.filter.expected.ndv#{c}", str(bloom_ndv))
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def insert_into(df: DataFrame, path: str, partition_cols: list[str] | None = None) -> None:
    """S7 — `INSERT INTO <table> SELECT ...` (README.rst:178-185): append a
    (transformed) DataFrame into an existing table directory."""
    writer = df.write.mode("append")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(path)


def _merge(spark: SparkSession, table: TransactionalTable, keys: list[str] | None, **kw) -> int:
    """Run one MergeTree merge as one `table.optimize` replace commit and
    return its version.  The merged snapshot keeps the table's recorded
    partition layout, which is why a partition column must be one of the
    merge `keys`: a column absent from the grouping would be dropped from
    the data.  An unpartitioned merge writes up to
    `spark.sql.shuffle.partitions` files, so its aggregate is not
    coalesced into a single task."""
    pcol = table.partition_column()
    if keys is not None and pcol is not None and pcol not in keys:
        raise ValueError(f"partition column {pcol!r} must be one of the keys {keys}")
    files = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return table.optimize(spark, target_files=files, **kw)


def compact_summing(
    spark: SparkSession, table: TransactionalTable, keys: list[str], agg_exprs: dict[str, Column]
) -> int:
    """S6/A8 — SummingMergeTree same-key collapse (README.rst:214-216).

    Combines all partial rows per key with the given aggregate expressions
    (e.g. `agg_state.sum_states` for avg states, max/min for max/min
    states) in one atomic replace commit.  The read-path result is
    identical before and after — compaction only reduces stored row count,
    exactly like a background merge, and a concurrent reader sees either
    the old snapshot or the merged one.

    This one function covers BOTH summing-family engines: plain numeric
    `agg_exprs` give SummingMergeTree; state-merge expressions from
    `functions/agg_state.py` (as `attendance_daily_compacted` uses) give
    AggregatingMergeTree — ClickHouse separates the two engines only
    because its merge step must know each column's combine function, which
    here IS the `agg_exprs` argument.
    """
    aggs = [expr.alias(name) for name, expr in agg_exprs.items()]
    return _merge(spark, table, keys, transform=lambda df: df.groupBy(*keys).agg(*aggs))


def _live(deleted_col: str) -> Column:
    """A NULL tombstone flag is LIVE: ClickHouse's is_deleted is a
    non-nullable UInt8, and a CDC feed missing the flag on some rows must
    not lose those keys, which a bare `== 0` would do."""
    return F.coalesce(F.col(deleted_col), F.lit(0)) == 0


def final_rows(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """One row per `keys` — the row with the LEXICOGRAPHICALLY LARGEST
    `order_cols` tuple (the ReplacingMergeTree `FINAL` read semantics,
    shared by `read_replacing_final` and `compact_replacing`).

    Spark-first shape: ONE hash aggregate with `max_by` over a struct
    ordering key — map-side partials reduce each task's rows to one
    candidate per key before the shuffle, so the exchange carries
    O(distinct keys), not O(rows).  A window `row_number` would instead
    shuffle every row and sort each key group; at 100 TB of upsert
    history that is the difference between a merge and a global sort.

    Determinism contract: `order_cols` must totally order the rows within
    a key (ClickHouse's "keeps the last inserted" is not reproducible on
    a distributed table, which is why callers pass an explicit version +
    tiebreak instead).
    """
    payload = [c for c in df.columns if c not in keys]
    return (
        df.groupBy(*keys)
        .agg(
            F.max_by(
                F.struct(*payload), F.struct(*[F.col(c) for c in order_cols])
            ).alias("_r")
        )
        .select(*keys, "_r.*")
    )


def read_replacing_final(
    df: DataFrame, keys: list[str], version_col: str,
    tiebreak: list[str] | None = None, deleted_col: str | None = None,
) -> DataFrame:
    """ReplacingMergeTree read path — `SELECT ... FINAL`: collapse the
    upsert history to the max-version row per key at READ time, before (or
    without) any background merge.  `tiebreak` breaks version ties
    deterministically; (version, *tiebreak) must totally order each key's
    rows (see `final_rows`).

    `deleted_col` is ClickHouse's `ReplacingMergeTree(ver, is_deleted)`
    tombstone: when the WINNING version of a key carries
    `deleted_col != 0`, the key is absent from the FINAL read — a delete
    is just an upsert whose payload says "gone", which is how a CDC feed
    expresses deletes without a second table.  Older live versions do NOT
    resurrect the row (the filter applies after the max-version pick,
    exactly ClickHouse's rule)."""
    out = final_rows(df, keys, [version_col, *(tiebreak or [])])
    if deleted_col is not None:
        out = out.filter(_live(deleted_col)).drop(deleted_col)
    return out


def compact_replacing(
    spark: SparkSession, table: TransactionalTable, keys: list[str], version_col: str,
    tiebreak: list[str] | None = None, deleted_col: str | None = None, cleanup: bool = False,
) -> int:
    """ReplacingMergeTree background merge (the upsert/CDC storage engine:
    `ENGINE = ReplacingMergeTree(ver) ORDER BY key`): one replace commit
    keeping only the max-(version, tiebreak) row per key.  The read answer
    through `read_replacing_final` is identical before and after —
    compaction only discards superseded versions, exactly like
    ClickHouse's merge-time collapse.

    `deleted_col` + `cleanup` mirror `ReplacingMergeTree(ver, is_deleted)`
    and `OPTIMIZE ... FINAL CLEANUP`: by default the merge KEEPS each
    key's winning tombstone row — later inserts replaying an OLDER
    version of the key must still lose to it, so dropping tombstones at
    every merge would resurrect deleted keys.  `cleanup=True` physically
    removes won tombstones (the terminal reclamation pass a CDC pipeline
    runs once upstream replay of older versions is impossible), with the
    FINAL read's rule that a NULL flag is live.
    """
    if cleanup and deleted_col is None:
        raise ValueError("cleanup=True requires deleted_col")

    def _final(df: DataFrame) -> DataFrame:
        out = final_rows(df, keys, [version_col, *(tiebreak or [])])
        return out.filter(_live(deleted_col)) if cleanup else out

    return _merge(spark, table, keys, transform=_final)


def collapse_versioned(
    df: DataFrame, keys: list[str], sign_col: str, version_col: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """VersionedCollapsingMergeTree merge semantics, as a transformation:
    within each (`keys`, `version_col`) group, +1 "state" rows and -1
    "cancel" rows annihilate pairwise; a group whose signs sum to zero
    vanishes, otherwise ONE representative row of the majority sign
    survives, carrying `multiplicity = |net|` (unmatched identical rows
    collapse into a counted representative rather than being replayed).

    We implement the VERSIONED engine deliberately: plain
    CollapsingMergeTree resolves odd groups by insertion order, which a
    distributed table cannot reproduce; keying the cancellation on an
    explicit version makes the collapse order-independent — ClickHouse's
    own rationale for the versioned variant.  The representative is the
    max-`tiebreak` row of the winning sign (deterministic under the same
    total-order contract as `final_rows`).

    One hash aggregate, map-side combinable: the shuffle carries one
    candidate pair per (key, version) per task, never the raw change log.

    Re-entrant: an input `multiplicity` column (a previous collapse's
    output) is treated as a ROW WEIGHT — each collapsed row stands for
    `multiplicity` identical rows — so collapsing a collapsed table is a
    no-op rather than a column collision or a double count.
    """
    tb = [F.col(c) for c in (tiebreak or [])]
    payload = [c for c in df.columns if c not in (*keys, version_col, sign_col, "multiplicity")]
    sign = F.col(sign_col)
    weight = (F.col("multiplicity") if "multiplicity" in df.columns else F.lit(1)).cast("long")
    g = (
        df.groupBy(*keys, version_col)
        .agg(
            F.sum(sign.cast("long") * weight).alias("_net"),
            F.max_by(
                F.struct(*payload), F.when(sign > 0, F.struct(*tb, F.lit(0)))
            ).alias("_pos"),
            F.max_by(
                F.struct(*payload), F.when(sign < 0, F.struct(*tb, F.lit(0)))
            ).alias("_neg"),
        )
        .filter(F.col("_net") != 0)
    )
    win = F.when(F.col("_net") > 0, F.col("_pos")).otherwise(F.col("_neg"))
    return g.select(
        *keys,
        version_col,
        F.signum("_net").cast("int").alias(sign_col),
        F.abs("_net").alias("multiplicity"),
        *[win[c].alias(c) for c in payload],
    )


def compact_collapsing(
    spark: SparkSession, table: TransactionalTable, keys: list[str], sign_col: str,
    version_col: str, tiebreak: list[str] | None = None,
) -> int:
    """VersionedCollapsingMergeTree background merge: one replace commit
    of the change-log table in its collapsed form (`collapse_versioned`).
    Sign-weighted reads (`sum(sign * metric)` style) are identical before
    and after — the merge only removes annihilated pairs.  The merged
    table gains the `multiplicity` column; re-compaction treats it as a
    row WEIGHT (see `collapse_versioned`), so running the merge again —
    or merging freshly appended change-log rows into an already-collapsed
    table — stays exact instead of double-counting."""
    def _collapse(df: DataFrame) -> DataFrame:
        return collapse_versioned(df, keys, sign_col, version_col, tiebreak)

    return _merge(spark, table, keys, transform=_collapse)


def apply_ttl(
    spark: SparkSession, table: TransactionalTable, ts_col: str, expire_before: str,
    partition_day_col: str | None = None,
) -> dict:
    """Row TTL on compaction (`TTL ts + INTERVAL n DAY` analogue): delete
    every row with `ts_col` < `expire_before` (an explicit cutoff, not
    wall-clock — deterministic and replayable by construction).  A NULL
    timestamp has no age, so its row never expires.

    The 100 TB path is the PARTITION-DROP fast path: when the table is
    partitioned by the day of `ts_col` (pass `partition_day_col`, which
    must be the table's partition column), days are classified on the
    driver from the snapshot's partition VALUES alone.  One replace commit
    then rewrites only the single boundary day (a mid-day cutoff) with a
    row filter, leaves each wholly expired day out without reading it
    (the keep predicate bounds the partition column, so Spark prunes
    those files at planning), and carries every live day's files over
    under their old names.  TTL on a day-partitioned 100 TB table is then
    metadata work + one day's rewrite, not a full-table scan — which is
    exactly how MergeTree drops whole expired parts.

    Without `partition_day_col` the whole table is rewritten filtered.
    Returns counts: `{"dropped_dirs": n, "rewritten": m}` (expired days
    dropped, boundary days rewritten; rewritten = 1 for the unpartitioned
    full rewrite).
    """
    import datetime as _dt

    keep = F.col(ts_col).isNull() | (F.col(ts_col) >= F.lit(expire_before).cast("timestamp"))
    if partition_day_col is None:
        _merge(spark, table, None, keep_where=keep)
        return {"dropped_dirs": 0, "rewritten": 1}
    if partition_day_col != table.partition_column():
        raise ValueError(f"{partition_day_col!r} is not the partition column of {table.path}")
    cutoff = _dt.datetime.fromisoformat(expire_before)
    expired, boundary = set(), set()
    for f in table.data_files():
        part = os.path.relpath(f, table.path).split(os.sep)[0]
        value = part[len(partition_day_col) + 1 :]
        try:
            day = _dt.datetime.fromisoformat(value)
        except ValueError:
            # NULL-ts rows live in `__HIVE_DEFAULT_PARTITION__`: never expire
            continue
        if day + _dt.timedelta(days=1) <= cutoff:
            expired.add(value)
        elif day < cutoff:
            boundary.add(value)
    if expired or boundary:
        in_boundary = F.col(partition_day_col).cast("string").isin(sorted(boundary))
        table.optimize(spark, partitions=sorted(expired | boundary), keep_where=in_boundary & keep)
    return {"dropped_dirs": len(expired), "rewritten": len(boundary)}


def snapshot_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Change-data feed between two table snapshots: every row of `new`
    absent from `old` emits sign +1, every row of `old` absent from `new`
    emits sign -1 — exactly the change log `compact_collapsing` consumes,
    so `old + diff` collapses to `new`.  This is how a MergeTree-family
    deployment turns periodic snapshots (a replaced dimension table, a
    re-extracted upstream) into an INCREMENTAL feed for the downstream
    cascade instead of a full reload.

    Multiset semantics (`exceptAll`): a row appearing twice in `new` and
    once in `old` diffs to ONE +1 — duplicates are preserved exactly, not
    set-collapsed.  Plan shape: each direction is one hash aggregate over
    full-row keys (map-side combinable, one shuffle each, no join); the
    diff's size is O(changed rows) however large the snapshots are, which
    is the entire point of feeding the cascade a diff.

    Schemas must match (column order included).  Output: the common
    schema + `sign` int.
    """
    if [f.simpleString() for f in old.schema] != [
        f.simpleString() for f in new.schema
    ]:
        raise ValueError(
            f"snapshot schemas differ: {old.schema.simpleString()} vs "
            f"{new.schema.simpleString()}"
        )
    if "sign" in old.columns:
        # diffing sign-carrying snapshots (e.g. two collapsed change logs)
        # would silently OVERWRITE their sign with the diff's — a cancel
        # row re-emitted as a state row.  Rename upstream.
        raise ValueError("inputs already carry a 'sign' column; rename it")
    plus = new.exceptAll(old).withColumn("sign", F.lit(1))
    minus = old.exceptAll(new).withColumn("sign", F.lit(-1))
    return plus.unionByName(minus)
