"""Table projections — alternative materialized sort orders.

ClickHouse `PROJECTION`s store the same rows redundantly under a second
sort key so queries filtering on non-primary columns still prune granules;
the optimizer picks the copy whose ORDER BY matches the predicate.  The
Spark-first analogue keeps one transactional table per sort order
(`txlog.TransactionalTable` at `<path>/<name>`), each laid out so every
file owns a narrow, disjoint slice of ITS key and is sorted on it (tight
row-group min/max stats), and a tiny router that picks the copy whose
sort key prefixes the queried columns.

Why this matters at 100 TB: a range predicate on the 5th-of-5 sort column
reads every row group of a 100 TB table; the same predicate against a
projection sorted BY that column reads only the matching groups — storage
is multiplied by the projection count (exactly ClickHouse's trade), scan
cost drops by orders of magnitude.  Writes fan out once per projection
(each its own independent sorted write — parallel, no cross-copy shuffle
dependency), which is the same write amplification ClickHouse pays at
part-build time.

Every write is a log commit, so a reader sees each copy at a committed
version and never a copy mid-rewrite: `write` publishes one replace
commit per copy, `insert` one append per copy, and `optimize` one
`TransactionalTable.optimize` replace commit per copy (the background
merge that swaps a MergeTree part in one step).  Copies commit one after
another, so between two copies' commits the copies can answer at
different versions.

Routing is intentionally explicit and tiny: `read_for(cols)` scores each
copy by how long a prefix of its sort key is covered by the queried
columns (ClickHouse's own projection choice is the same leading-prefix
test).  No attempt to parse Catalyst predicates — the caller names the
filter columns, the router names the copy, and Catalyst's normal
pushdown does the pruning from there.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession

from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable


class ProjectedTable:
    """One logical table, N sorted physical copies.

    `orders` maps projection name -> sort columns; the reserved name
    "primary" is the base order.  All copies hold identical rows — a
    result read through any copy is the same table.  `copies` maps each
    name to its `TransactionalTable`.
    """

    def __init__(self, path: str, orders: dict[str, list[str]]):
        if "primary" not in orders:
            raise ValueError("orders must include the 'primary' sort key")
        self.path = path.rstrip("/")
        self.orders = {k: list(v) for k, v in orders.items()}
        self.copies = {
            name: TransactionalTable(os.path.join(self.path, name))
            for name in self.orders
        }

    @staticmethod
    def _slices(spark: SparkSession, files: int | None) -> int:
        """The slice count: explicit (default: the session's parallelism).
        An un-sized range shuffle is fair game for AQE partition
        coalescing, which at small scale folds a copy into one full-range
        file and silently deletes the property this class exists for."""
        return files or spark.sparkContext.defaultParallelism

    def _lay_out(self, name: str, df: DataFrame, n: int) -> DataFrame:
        """Copy `name`'s layout, shared by all three writes: RANGE-
        partitioned on its sort key into `n` slices, each sorted — the
        MergeTree part shape, so min/max pruning works at file granularity
        (a hash-random task layout would leave every file spanning the
        whole key range however well its rows are sorted internally)."""
        cols = self.orders[name]
        return df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)

    def write(self, df: DataFrame, files: int | None = None) -> None:
        """Materialize every projection as one replace commit per copy
        (version 0 on a fresh copy).  Each copy is an independent
        range-partitioned sorted write — at scale these are N parallel
        jobs over the same source, not a chained shuffle."""
        n = self._slices(df.sparkSession, files)
        for name, copy in self.copies.items():
            copy.append(self._lay_out(name, df, n), replaces=copy.version())

    def insert(self, df: DataFrame, files: int | None = None) -> None:
        """Append a block into every projection, one append per copy,
        keeping each copy's per-file range+sort property (the table stays
        a union of sorted range-sliced files, the MergeTree part model)."""
        n = self._slices(df.sparkSession, files)
        for name, copy in self.copies.items():
            copy.append(self._lay_out(name, df, n))

    def choose(self, filter_cols: list[str]) -> str:
        """The routing rule: the copy whose sort key has the LONGEST
        leading prefix inside `filter_cols` wins (ties -> 'primary' first,
        then name order, deterministic).  A filter on no sorted column
        routes to 'primary'."""
        fset = set(filter_cols)

        def prefix_len(sort_cols: list[str]) -> int:
            n = 0
            for c in sort_cols:
                if c not in fset:
                    break
                n += 1
            return n

        ranked = sorted(
            self.orders.items(),
            key=lambda kv: (-prefix_len(kv[1]), kv[0] != "primary", kv[0]),
        )
        return ranked[0][0]

    def read_for(self, spark: SparkSession, filter_cols: list[str]) -> DataFrame:
        """Log read of the best projection for a query filtering on
        `filter_cols`, planned with zero Spark jobs.  The rows are the
        same whichever copy serves them — only the row-group pruning
        differs."""
        return self.copies[self.choose(filter_cols)].read(spark)

    def optimize(self, spark: SparkSession, files: int | None = None) -> None:
        """Per-copy compaction: every insert appends its own range-sliced
        file set, so after many inserts each projection holds N_inserts
        overlapping slice families and a routed scan pays one footer + one
        task per tiny file — small-file decay, once per copy.  Each copy
        is rewritten back to one range-sliced sorted file family by ONE
        `TransactionalTable.optimize` replace commit with the copy's
        layout as its transform: readers keep the old snapshot until the
        commit lands, and an insert that commits first makes the rewrite
        retry from the new snapshot, so its rows are kept."""
        n = self._slices(spark, files)
        for name, copy in self.copies.items():
            copy.optimize(
                spark, target_files=n, transform=functools.partial(self._lay_out, name, n=n)
            )
