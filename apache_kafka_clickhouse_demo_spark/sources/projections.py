"""Table projections — alternative materialized sort orders.

ClickHouse `PROJECTION`s store the same rows redundantly under a second
sort key so queries filtering on non-primary columns still prune granules;
the optimizer picks the copy whose ORDER BY matches the predicate.  The
Spark-first analogue keeps one parquet directory per sort order (each
written through `storage.write_sorted`, so row-group min/max stats are
tight on ITS key) and a tiny router that picks the copy whose sort key
prefixes the queried columns.

Why this matters at 100 TB: a range predicate on the 5th-of-5 sort column
reads every row group of a 100 TB table; the same predicate against a
projection sorted BY that column reads only the matching groups — storage
is multiplied by the projection count (exactly ClickHouse's trade), scan
cost drops by orders of magnitude.  Writes fan out once per projection
(each its own independent sorted write — parallel, no cross-copy shuffle
dependency), which is the same write amplification ClickHouse pays at
part-build time.

Routing is intentionally explicit and tiny: `read_for(cols)` scores each
copy by how long a prefix of its sort key is covered by the queried
columns (ClickHouse's own projection choice is the same leading-prefix
test).  No attempt to parse Catalyst predicates — the caller names the
filter columns, the router names the copy, and Catalyst's normal
pushdown does the pruning from there.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.sources.storage import write_sorted


def _atomic_swap(path: str, write_fn) -> None:
    """Directory swap for `ProjectedTable.optimize`: write the new copy
    via `write_fn(tmp)`, then path -> _old, tmp -> path, drop _old.

    Failure handling:
    - a stale `<path>_old` left by an earlier failed/interrupted swap is
      cleared first, instead of making every later compaction die with
      ENOTEMPTY at the first rename;
    - if the second rename fails after the first succeeded, the ORIGINAL
      copy is restored from `_old` before re-raising, so the table never
      ends up with no copy at all;
    - a failed cleanup of `_old` is non-fatal (the next swap clears it).

    The swap is TWO renames: a reader listing the directory between them
    sees no copy, so it needs a single writer and no concurrent readers.
    The transactional table's `optimize()` is the one-commit alternative;
    it does not write the per-column bloom filters or the range layout a
    projection copy carries."""
    p = path.rstrip("/")
    old = p + "_old"
    tmp = tempfile.mkdtemp(dir=os.path.dirname(p) or ".", prefix="_compact_")
    try:
        write_fn(tmp)
        shutil.rmtree(old, ignore_errors=True)  # stale debris from a crash
        os.rename(p, old)
        try:
            os.rename(tmp, p)
        except BaseException:
            os.rename(old, p)  # restore the live table before surfacing
            raise
        shutil.rmtree(old, ignore_errors=True)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


class ProjectedTable:
    """One logical table, N sorted physical copies.

    `orders` maps projection name -> sort columns; the reserved name
    "primary" is the base order.  All copies hold identical rows — a
    result read through any copy is the same table.
    """

    def __init__(
        self,
        path: str,
        orders: dict[str, list[str]],
        bloom_cols: list[str] | None = None,
    ):
        if "primary" not in orders:
            raise ValueError("orders must include the 'primary' sort key")
        self.path = path.rstrip("/")
        self.orders = {k: list(v) for k, v in orders.items()}
        #: on the TABLE, not per-write: appended files must carry the same
        #: blooms as the base files or point-predicate skipping silently
        #: degrades with every insert
        self.bloom_cols = list(bloom_cols or [])

    def _dir(self, name: str) -> str:
        return os.path.join(self.path, name)

    def _write_one(
        self,
        df: DataFrame,
        path: str,
        sort_cols: list[str],
        mode: str,
        files: int | None = None,
    ) -> None:
        """One copy = RANGE-partitioned on its sort key, then handed to
        `storage.write_sorted` (ONE sorted-parquet writer in the engine —
        a local copy of its option plumbing would drift): every FILE owns
        a narrow, disjoint slice of the key space
        (the MergeTree part shape), so min/max pruning works at file
        granularity — a hash-random task layout would leave every file
        spanning the whole key range however well its rows are sorted
        internally.  The slice count is EXPLICIT (default: the session's
        parallelism): an un-sized range shuffle is fair game for AQE
        partition coalescing, which at small scale folds the whole copy
        into one full-range file and silently deletes the property this
        class exists for."""
        n = files or df.sparkSession.sparkContext.defaultParallelism
        out = df.repartitionByRange(n, *[F.col(c) for c in sort_cols])
        # write_sorted's sortWithinPartitions preserves the range layout
        write_sorted(out, path, sort_cols, mode=mode, bloom_cols=self.bloom_cols)

    def write(self, df: DataFrame, files: int | None = None) -> None:
        """Materialize every projection (overwrite).  Each copy is an
        independent range-partitioned sorted write — at scale these are N
        parallel jobs over the same source, not a chained shuffle."""
        for name, sort_cols in self.orders.items():
            self._write_one(df, self._dir(name), sort_cols, "overwrite", files)

    def insert(self, df: DataFrame, files: int | None = None) -> None:
        """Append a block into every projection, keeping each copy's
        per-file range+sort property AND its bloom skip-indexes (the table
        stays a union of sorted range-sliced files, the MergeTree part
        model)."""
        for name, sort_cols in self.orders.items():
            self._write_one(df, self._dir(name), sort_cols, "append", files)

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
        """Scan routed to the best projection for a query filtering on
        `filter_cols`.  The rows are the same whichever copy serves them —
        only the row-group pruning differs."""
        return spark.read.parquet(self._dir(self.choose(filter_cols)))

    def optimize(self, spark: SparkSession, files: int | None = None) -> None:
        """Per-copy compaction: every insert appends its own range-sliced
        file set, so after many inserts each projection holds N_inserts
        overlapping slice families and a routed scan pays one footer + one
        task per tiny file — small-file decay, once per copy.  This
        rewrites each copy back to a single range-partitioned sorted file
        family through `_write_one` — the SAME writer inserts use, so the
        per-file disjoint-slice property, in-file sort, AND the table's
        bloom skip-indexes all survive (a plain parquet rewrite knows
        nothing of the blooms).  Each copy is swapped in by `_atomic_swap`:
        single writer, no concurrent readers."""
        for name, sort_cols in self.orders.items():
            path = self._dir(name)
            df = spark.read.parquet(path)

            def _write(tmp: str, _df=df, _cols=sort_cols) -> None:
                self._write_one(_df, tmp, _cols, "overwrite", files)

            _atomic_swap(path, _write)
