"""Materialized-view cascade manager — the reference's core operator, M1-M4.

Reference semantics (/root/reference/README.rst):

- A ClickHouse MV is an **insert trigger**: for every consumed block, run the
  MV's SELECT over *that block only* and append the result to the
  destination table (README.rst:95-103 ingest MV; :154-162 and :222-236
  cascaded aggregating MVs).  There is no lateness/watermark concept — every
  block contributes, whenever it arrives.
- Aggregating MVs therefore store **partial** per-block rows; correctness is
  restored by merge-on-read (`maxMerge`/`minMerge`/`avgMerge`,
  README.rst:264-272) or by SummingMergeTree background compaction
  (README.rst:214-216).

The Spark-first mapping is `foreachBatch`: each micro-batch IS the insert
block.  `create_materialized_view` runs `transform(block)` and appends to a
columnar destination — the exact per-block semantics, with Spark's
checkpointed source offsets replaying any block a failure interrupted.
Cascading works by pointing the next MV's file-stream source at the
previous MV's destination directory (`streaming/cascade.py`).

`backfill_cutover` reproduces the reference's signature pattern
(README.rst:121-123, 147, 160, 178-185, 242-252): pick a cutover timestamp
T, let the streaming MV handle rows `>= T`, and one-shot `INSERT ... SELECT`
the history `< T` — exposed as one call for parity even though a single
checkpointed stream from earliest offsets would be exactly-once on its own.

Destinations are pluggable (`sink=`): plain parquet directories (default;
foreachBatch is at-least-once, so a replayed block appends its rows
again), a JDBC database (`jdbc_sink` — the north star's sink half), or the
in-repo transactional table (`sources/txlog.transactional_sink`: atomic
commits, and exactly-once blocks given an `exactly_once_id`).
`backfill_cutover` and the sequential cascade write the transactional
table, which is also what lets them compact with `optimize()`.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from apache_kafka_clickhouse_demo_spark.sources.storage import insert_into
from apache_kafka_clickhouse_demo_spark.sources.txlog import (
    TransactionalTable,
    transactional_sink,
)


@dataclass
class MaterializedView:
    """Handle for a running MV: the streaming query plus its wiring."""

    query: StreamingQuery
    dest_path: str
    checkpoint: str

    def process_available(self) -> None:
        """Drain everything currently available (test/backfill helper)."""
        self.query.processAllAvailable()

    def stop(self) -> None:
        self.query.stop()


def create_materialized_view(
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    dest_path: str,
    checkpoint: str,
    partition_cols: list[str] | None = None,
    available_now: bool = False,
    sink: Callable[[DataFrame], None] | None = None,
) -> MaterializedView:
    """M1-M3 — `CREATE MATERIALIZED VIEW ... TO dest AS SELECT ...`.

    `source` is any streaming DataFrame (Kafka, file, rate); `transform` is
    the MV's SELECT, applied to each insert block in isolation — stateless
    extraction (M1) and per-block aggregation producing partial rows
    (M2/M3) both run through the same path, exactly like the reference.

    `sink` makes the destination pluggable: a callable receiving each
    transformed block.  Default is the parquet append (`insert_into` at
    `dest_path`); pass `jdbc_sink(...)` for the north star's JDBC
    destination, `transactional_sink(table)` for atomic commits, or a
    Delta/Iceberg writer on a cluster where parquet's non-atomic
    `_temporary/` staging is not acceptable.  A sink that declares TWO
    parameters receives `(block, batch_id)` — the hook an idempotent
    destination needs to make foreachBatch's at-least-once delivery
    exactly-once (`jdbc_sink_exactly_once`, `sources/txlog.append_once`).
    """
    if not source.isStreaming:
        raise ValueError("source must be a streaming DataFrame (use spark.readStream)")

    import inspect

    sink_wants_batch_id = False
    if sink is not None:
        try:
            # count only parameters callable positionally — a 1-arg sink
            # with **kwargs or keyword-only extras must NOT be handed a
            # second positional argument
            params = inspect.signature(sink).parameters.values()
            positional = [
                p
                for p in params
                if p.kind
                in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD, p.VAR_POSITIONAL)
            ]
            sink_wants_batch_id = any(
                p.kind == p.VAR_POSITIONAL for p in positional
            ) or len(positional) >= 2
        except (TypeError, ValueError):  # builtins/partials without signatures
            sink_wants_batch_id = False

    def _per_block(block: DataFrame, _batch_id: int) -> None:
        out = transform(block)
        if sink is not None:
            if sink_wants_batch_id:
                sink(out, _batch_id)
            else:
                sink(out)
        else:
            insert_into(out, dest_path, partition_cols)

    writer = (
        source.writeStream.foreachBatch(_per_block)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return MaterializedView(writer.start(), dest_path, checkpoint)


def jdbc_sink(
    url: str,
    table: str,
    driver: str | None = None,
    properties: dict[str, str] | None = None,
) -> Callable[[DataFrame], None]:
    """JDBC destination for a materialized view — the sink half of the north
    star ("Structured Streaming with Kafka source + JDBC sink",
    BASELINE.json).  Returns a per-block writer for
    `create_materialized_view(..., sink=...)`.

    Each micro-batch appends through Spark's JDBC writer: every partition
    opens its own connection and batch-inserts, so write parallelism scales
    with the block's partitioning (tune `numPartitions` and `batchsize` via
    `properties` against the database's connection budget — at cluster
    scale an unbounded fan-in of executor connections is the classic way to
    fall over a relational sink).  Exactly-once at the seam comes from the
    MV's checkpointed source offsets + append idempotence of re-run blocks
    being the caller's schema concern (add a unique key / upsert via a
    staging table when the database must dedupe replays).
    """
    props = dict(properties or {})
    if driver:
        props["driver"] = driver

    def _sink(block: DataFrame) -> None:
        writer = (
            block.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .mode("append")
        )
        for k, v in props.items():
            writer = writer.option(k, v)
        writer.save()

    return _sink


#: JDBC options consumed by Spark's writer, not by the database driver —
#: these must NOT be forwarded to DriverManager.getConnection.
_SPARK_JDBC_OPTIONS = {
    "driver", "numpartitions", "batchsize", "truncate", "isolationlevel",
    "fetchsize", "querytimeout", "createtableoptions",
    "createtablecolumntypes", "partitioncolumn", "lowerbound", "upperbound",
}


def jdbc_sink_exactly_once(
    url: str,
    table: str,
    driver: str | None = None,
    properties: dict[str, str] | None = None,
    batch_table: str | None = None,
    staging_table: str | None = None,
    writer_id: str = "",
) -> Callable[[DataFrame, int], None]:
    """Exactly-once JDBC destination: `jdbc_sink` + a batch ledger.

    foreachBatch is at-least-once; a plain JDBC append duplicates rows on
    every replayed block.  This sink makes the relational side idempotent
    with the standard staging-table pattern:

      0. replay check — if `batch_table` already records this batch id,
         the whole block is a no-op;
      1. stage — Spark writes the block to `staging_table` in OVERWRITE
         mode (parallel, one connection per partition; a crashed earlier
         attempt's partial staging is simply overwritten);
      2. publish — ONE driver-side connection runs
         `INSERT INTO table SELECT * FROM staging` and
         `INSERT INTO batch_table VALUES (batch_id)` in a single
         transaction, so the data and the ledger entry land atomically.

    Crash anywhere before the commit -> the replayed batch re-stages and
    re-publishes; crash after -> the ledger short-circuits it.  This is
    the same txn-keyed idempotence the engine's own tables get from
    `txlog.append_once`, expressed in the database's transaction.

    The publish transaction is single-connection by design — the scale
    knob is the STAGING write's parallelism (`numPartitions`/`batchsize`
    via `properties`); the publish itself is a server-side INSERT-SELECT,
    no data moves through the driver.

    `writer_id` scopes the ledger rows and the staging table per writer
    (pass the MV's checkpoint path): two MVs appending to one table both
    count batches from 0, so an unscoped ledger would silently drop the
    second stream's early batches as "replays", and a shared staging
    table could publish the wrong writer's rows.
    Connection credentials (`user`/`password` and any other driver
    properties) are forwarded to the driver-side connections too, not
    just to Spark's staging writer.
    """
    import zlib

    from pyspark.sql import SparkSession

    props = dict(properties or {})
    if driver:
        props["driver"] = driver
    suffix = f"_{zlib.crc32(writer_id.encode()):08x}" if writer_id else ""
    ledger = batch_table or f"{table}_batches"
    staging = staging_table or f"{table}_staging{suffix}"
    wid = writer_id.replace("'", "''")

    def _connect():
        jvm = SparkSession.getActiveSession()._jvm
        if driver:
            jvm.java.lang.Class.forName(driver)
        info = jvm.java.util.Properties()
        for k, v in props.items():
            if k.lower() not in _SPARK_JDBC_OPTIONS:
                info.setProperty(k, v)
        return jvm.java.sql.DriverManager.getConnection(url, info)

    def _sink(block: DataFrame, batch_id: int) -> None:
        bid = int(batch_id)
        conn = _connect()
        try:
            st = conn.createStatement()
            try:
                st.executeUpdate(
                    f"CREATE TABLE {ledger} (writer VARCHAR(512) NOT NULL,"
                    " batch_id BIGINT NOT NULL, PRIMARY KEY (writer, batch_id))"
                )
            except Exception:  # noqa: BLE001 — exists already (no IF NOT EXISTS in Derby)
                pass
            rs = st.executeQuery(
                f"SELECT 1 FROM {ledger} WHERE writer = '{wid}' AND batch_id = {bid}"
            )
            if rs.next():
                return  # replayed batch: already published
        finally:
            conn.close()

        writer = (
            block.write.format("jdbc")
            .option("url", url)
            .option("dbtable", staging)
            .mode("overwrite")
        )
        for k, v in props.items():
            writer = writer.option(k, v)
        writer.save()

        conn = _connect()
        try:
            st = conn.createStatement()
            try:  # first batch: clone the staged schema (no IF NOT EXISTS in Derby)
                st.executeUpdate(
                    f"CREATE TABLE {table} AS SELECT * FROM {staging} WITH NO DATA"
                )
            except Exception:  # noqa: BLE001 — table already exists
                pass
            conn.setAutoCommit(False)
            st = conn.createStatement()
            cols = ", ".join(f'"{c}"' for c in block.columns)
            st.executeUpdate(
                f"INSERT INTO {table} ({cols}) SELECT {cols} FROM {staging}"
            )
            st.executeUpdate(f"INSERT INTO {ledger} VALUES ('{wid}', {bid})")
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            conn.close()

    return _sink


def backfill_cutover(
    spark: SparkSession,
    history: DataFrame,
    source: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    cutover_predicate: Column,
    dest_path: str,
    checkpoint: str,
    available_now: bool = False,
) -> MaterializedView:
    """M4 — the backfill/stream cutover (README.rst:121-123, 178-185).

    1. Start the MV on `source` with its SELECT restricted to *input* rows
       satisfying `cutover_predicate` (the `WHERE timestamp >= T` inside the
       MV select, README.rst:160 — the filter runs BEFORE any aggregation
       in `transform`, exactly like the reference).
    2. One-shot `INSERT INTO dest SELECT` over `history` rows that do NOT
       satisfy it (the `timestamp < T` half, README.rst:178-185).

    The predicate split makes the seam exactly-once by construction: every
    input row feeds exactly one of the two paths, matching the reference's
    future-timestamp trick.  (With a checkpointed replayable source the
    split is redundant — Spark's offsets already give exactly-once — but it
    is the reference's signature pattern, so it is a first-class API.)

    `dest_path` is a `TransactionalTable`: the history half is one commit
    keyed `<checkpoint>:backfill` and each stream block one commit keyed
    `<checkpoint>:<batch id>`, so re-running the cutover (a restart after
    a crash) or replaying a block adds no rows.  Read the result with
    `TransactionalTable(dest_path).read(spark)`.
    """
    table = TransactionalTable(dest_path)
    table.append_once(
        transform(history.filter(~cutover_predicate)), txn=f"{checkpoint}:backfill"
    )
    return create_materialized_view(
        source,
        lambda block: transform(block.filter(cutover_predicate)),
        dest_path,
        checkpoint,
        available_now=available_now,
        sink=transactional_sink(table, exactly_once_id=checkpoint),
    )
