"""Catalog-bucketed tables — pre-shuffled storage for co-located joins.

The 100 TB join problem: every `join`/`groupBy` on a non-partitioned key
shuffles both sides' full data across the cluster.  Spark's answer for a
key that is joined/aggregated REPEATEDLY (the fact-to-fact join a
broadcast can't serve) is `bucketBy`: rows are hash-distributed into a
fixed bucket count AT WRITE TIME and the layout is recorded in the
catalog, so Catalyst plans later equi-joins and aggregations on the
bucket key with ZERO exchange — the shuffle is paid once when the table
is built, then amortized over every query that touches it.  This is the
"co-located join" bullet of the scale design: two tables bucketed the
same way join node-locally at any size.

`sortBy` inside each bucket additionally removes the join's sort step
(SortMergeJoin reads presorted bucket files) and keeps row-group stats
tight on the sort key — the MergeTree ORDER BY property per bucket.

Bucket-count discipline at scale: buckets are fixed at write time and
each bucket is one file per writing task, so size them like shuffle
partitions (total size / target file size); both join sides must agree
on count and key for the exchange-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist `df` as a catalog table bucketed by `bucket_cols` into
    `num_buckets` (optionally bucket-sorted by `sort_cols`), at `path` if
    given.  Readers use `spark.table(name)` — a plain parquet read of the
    same files would NOT see the bucketing metadata and would still
    shuffle."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    """Catalog read that carries the bucket layout into planning."""
    return spark.table(table)


def compact_bucketed(
    spark: SparkSession,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Compact-by-rewrite for a bucketed catalog table.

    Every append writes one file per (task, bucket) pair, so a table fed
    by K inserts of T tasks each accumulates up to K*T files PER BUCKET —
    and SortMergeJoin over presorted buckets degrades to a K*T-way merge
    per bucket with one footer read per file.  Buckets are fixed at write
    time, so there is no in-place merge: the story is a rewrite.
    Repartitioning onto the bucket columns with the bucket count aligns
    writing tasks with buckets (few files per bucket — exactly one when
    the repartition hash agrees with the bucketing hash), the rewrite
    lands in a staging table, and a catalog DROP + RENAME swaps it in.

    Concurrency contract: the DROP->RENAME swap is two catalog
    statements, and a reader between them sees no table.  Single writer,
    maintenance window; concurrent-reader compaction belongs to
    `txlog.TransactionalTable.optimize` (one replace commit, which is how
    `ProjectedTable.optimize` rewrites its copies).

    Crash recovery: a crash between the DROP and the RENAME
    leaves the fully-written staging table as the ONLY copy — a rerun
    detects that state (staging exists, live table doesn't) and COMPLETES
    the swap instead of dropping the sole survivor.  Caveat for tables
    created with an explicit `path=`: the rewrite lands at the staging
    table's (managed) location — the catalog points at the new files, and
    the old external directory remains the caller's to reclaim.
    """
    from pyspark.sql import functions as F

    staging = f"{table}__compact"
    if spark.catalog.tableExists(staging) and not spark.catalog.tableExists(table):
        # interrupted previous run, already past its DROP: staging holds
        # the only copy of the data — finish its swap and stop
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        return
    spark.sql(f"DROP TABLE IF EXISTS {staging}")
    df = spark.table(table).repartition(
        num_buckets, *[F.col(c) for c in bucket_cols]
    )
    write_bucketed(df, staging, bucket_cols, num_buckets, sort_cols)
    spark.sql(f"DROP TABLE {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
