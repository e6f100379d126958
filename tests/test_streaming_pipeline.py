"""Streaming MV cascade (M1-M3) + backfill/cutover (M4) equivalence tests.

The invariant (SURVEY.md §2.2, §7 step 3): the streaming cascade fed the
same input produces EXACTLY the same tables as the batch transforms —
per-block partial rows merge-on-read to the direct answer, and the
backfill/stream seam loses/duplicates nothing.

Sources here are file streams (this sandbox has no Kafka broker); the
`message`-string contract is identical to the Kafka source's `value` cast
(sources/kafka.py), so the cascade under test is the one a broker would
feed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.operators import entry_pipeline
from apache_kafka_clickhouse_demo_spark.schemas import STUDENT_ENTRY_EVENTS_SCHEMA
from apache_kafka_clickhouse_demo_spark.sources.tables import load_table
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
from apache_kafka_clickhouse_demo_spark.streaming import (
    backfill_cutover,
    create_materialized_view,
)


@pytest.fixture(scope="module")
def ndjson_dir(spark, sf_dir, tmp_path_factory):
    """Raw §1.4 NDJSON input split into 3 arrival chunks (insert blocks)."""
    root = tmp_path_factory.mktemp("entry_ndjson")
    msgs = [
        r["message"]
        for r in entry_pipeline.synth_entry_messages(
            load_table(spark, sf_dir, "events")
        ).collect()
    ]
    third = len(msgs) // 3
    for i, chunk in enumerate([msgs[:third], msgs[third : 2 * third], msgs[2 * third :]]):
        (root / f"chunk_{i}.ndjson").write_text("\n".join(chunk) + "\n")
    return str(root)


def _typed_batch(spark, ndjson_dir):
    raw = spark.read.text(ndjson_dir).withColumnRenamed("value", "message")
    return entry_pipeline.typed_entry_events(raw)


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_mv_ingest_stream_equals_batch(spark, ndjson_dir, tmp_path):
    """M1: the checkpointed streaming ingest MV writes the same typed table
    as the batch extraction of the same NDJSON."""
    dest = str(tmp_path / "typed")
    source = (
        spark.readStream.format("text").load(ndjson_dir).withColumnRenamed("value", "message")
    )
    mv = create_materialized_view(
        source,
        entry_pipeline.typed_entry_events,
        dest,
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    mv.process_available()
    mv.stop()

    got = spark.read.schema(STUDENT_ENTRY_EVENTS_SCHEMA).parquet(dest)
    want = _typed_batch(spark, ndjson_dir)
    key = ["timestamp", "student.name", "subject", "room"]
    assert _sorted_rows(got, *key) == _sorted_rows(want, *key)


def test_mv_cascade_partial_counts_merge(spark, ndjson_dir, tmp_path):
    """M2+M3 shape: the aggregating MV stores PARTIAL per-block rows;
    merge-on-read equals the direct batch aggregate (README.rst:254-272)."""
    typed_dir = str(tmp_path / "typed")
    counts_dir = str(tmp_path / "counts")
    _typed_batch(spark, ndjson_dir).write.parquet(typed_dir)

    # maxFilesPerTrigger=1 forces multiple micro-batches -> several partial
    # rows per (timestamp, subject) key across blocks
    source = (
        spark.readStream.schema(STUDENT_ENTRY_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(typed_dir)
    )
    mv = create_materialized_view(
        source,
        entry_pipeline.class_attendance,
        counts_dir,
        str(tmp_path / "ckpt2"),
        available_now=True,
    )
    mv.process_available()
    mv.stop()

    stored = spark.read.parquet(counts_dir)
    merged = (
        stored.groupBy("timestamp", "subject")
        .agg(F.sum("n_students").alias("n_students"))
    )
    direct = entry_pipeline.class_attendance(_typed_batch(spark, ndjson_dir))
    key = ["timestamp", "subject"]
    assert _sorted_rows(merged, *key) == _sorted_rows(direct, *key)


def test_backfill_cutover_no_loss_no_dup(spark, ndjson_dir, tmp_path):
    """M4: history < T via one-shot INSERT...SELECT, stream handles >= T;
    the union is exactly the full answer (README.rst:121-123, 178-185).
    Both halves commit to the transactional table at `dest_path`."""
    typed_dir = str(tmp_path / "typed")
    dest = str(tmp_path / "attendance")
    typed = _typed_batch(spark, ndjson_dir)
    typed.write.parquet(typed_dir)

    cutover = typed.agg(F.percentile_approx("timestamp", 0.5)).collect()[0][0]

    history = spark.read.schema(STUDENT_ENTRY_EVENTS_SCHEMA).parquet(typed_dir)
    source = (
        spark.readStream.schema(STUDENT_ENTRY_EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(typed_dir)
    )
    mv = backfill_cutover(
        spark,
        history=history,
        source=source,
        transform=entry_pipeline.class_attendance,
        cutover_predicate=F.col("timestamp") >= F.lit(cutover),
        dest_path=dest,
        checkpoint=str(tmp_path / "ckpt3"),
        available_now=True,
    )
    mv.process_available()
    mv.stop()

    merged = (
        TransactionalTable(dest).read(spark)
        .groupBy("timestamp", "subject")
        .agg(F.sum("n_students").alias("n_students"))
    )
    direct = entry_pipeline.class_attendance(typed)
    key = ["timestamp", "subject"]
    assert _sorted_rows(merged, *key) == _sorted_rows(direct, *key)


def test_live_cascade_all_stages_concurrent(spark, sf_dir, tmp_path):
    """run_cascade_live: every MV started BEFORE any data has flowed —
    downstream file streams watch empty directories whose schemas were
    derived statically — and the fully-propagated result equals the batch
    computation.  This is the reference's deployment shape (all MVs
    attached at once), proven end-to-end."""
    from apache_kafka_clickhouse_demo_spark.sources.tables import load_table
    from apache_kafka_clickhouse_demo_spark.streaming import CascadeStage
    from apache_kafka_clickhouse_demo_spark.streaming.cascade import run_cascade_live

    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src")
    events.select("event_id", "event_type", "value").repartition(4).write.parquet(src_dir)

    source = (
        spark.readStream.schema("event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    final = run_cascade_live(
        spark,
        source,
        [
            CascadeStage(
                "typed",
                lambda b: b.select(
                    "event_id", F.upper("event_type").alias("t"), "value"
                ),
            ),
            CascadeStage(
                "per_type",
                lambda b: b.groupBy("t").agg(
                    F.count(F.lit(1)).alias("n"), F.sum("value").alias("v")
                ),
                max_files_per_trigger=2,
            ),
        ],
        str(tmp_path / "work"),
    )

    got = {
        r["t"]: (r["n"], round(r["v"], 6))
        for r in spark.read.parquet(final)
        .groupBy("t")
        .agg(F.sum("n").alias("n"), F.sum("v").alias("v"))
        .collect()
    }
    want = {
        r["t"]: (r["n"], round(r["v"], 6))
        for r in events.groupBy(F.upper("event_type").alias("t"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .collect()
    }
    assert got == want

    # rejects sequential-only features
    import pytest as _pytest

    with _pytest.raises(ValueError):
        run_cascade_live(
            spark,
            source,
            [CascadeStage("x", lambda b: b, cutover_predicate=F.lit(True))],
            str(tmp_path / "work2"),
        )


def test_live_cascade_three_stage_propagation_depth(spark, sf_dir, tmp_path):
    """Depth check for the live drain: a 3-hop cascade needs a block to
    cross two downstream file-stream boundaries after the first drain pass
    — exactly what the N-pass quiesce loop guarantees.  Result must equal
    the batch composition of all three transforms."""
    from apache_kafka_clickhouse_demo_spark.sources.tables import load_table
    from apache_kafka_clickhouse_demo_spark.streaming import CascadeStage
    from apache_kafka_clickhouse_demo_spark.streaming.cascade import run_cascade_live

    events = load_table(spark, sf_dir, "events")
    src_dir = str(tmp_path / "src")
    events.select("event_id", "user_id", "value").repartition(3).write.parquet(src_dir)

    source = (
        spark.readStream.schema("event_id long, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    final = run_cascade_live(
        spark,
        source,
        [
            CascadeStage("typed", lambda b: b.withColumn("bucket", F.col("user_id") % 10)),
            CascadeStage(
                "per_user",
                lambda b: b.groupBy("bucket", "user_id").agg(F.count(F.lit(1)).alias("n")),
                max_files_per_trigger=2,
            ),
            CascadeStage(
                "per_bucket",
                lambda b: b.groupBy("bucket").agg(F.sum("n").alias("n")),
                max_files_per_trigger=2,
            ),
        ],
        str(tmp_path / "work"),
    )
    got = {
        r["bucket"]: r["n"]
        for r in spark.read.parquet(final).groupBy("bucket").agg(F.sum("n").alias("n")).collect()
    }
    want = {
        r["bucket"]: r["n"]
        for r in events.groupBy((F.col("user_id") % 10).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_backfill_cutover_rerun_adds_no_rows(spark, tmp_path):
    """Re-running a cutover on the same `dest_path` and `checkpoint` (a
    restart after a crash) commits the history half once: the history
    append is keyed `<checkpoint>:backfill` like the stream blocks are
    keyed by batch id."""
    src_dir = str(tmp_path / "src")
    spark.range(10).write.parquet(src_dir)
    dest, ckpt = str(tmp_path / "dest"), str(tmp_path / "ckpt")
    for _ in range(2):
        mv = backfill_cutover(
            spark,
            history=spark.read.parquet(src_dir),
            source=spark.readStream.schema("id long").parquet(src_dir),
            transform=lambda df: df,
            cutover_predicate=F.col("id") >= 5,
            dest_path=dest,
            checkpoint=ckpt,
            available_now=True,
        )
        mv.process_available()
        mv.stop()
    got = sorted(r["id"] for r in TransactionalTable(dest).read(spark).collect())
    assert got == list(range(10))
