"""SparkSession factory tuned for this engine.

Local mode is a single JVM; the same settings are what we would ship on a
real cluster (AQE on, UTC, Arrow, shuffle partitions sized to parallelism —
on a 1000-executor cluster `spark.sql.shuffle.partitions` would instead be
set to ~2-3x total cores and AQE coalescing trims the rest).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pyspark-streamhouse",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
        # 64 MB static broadcast threshold: right for genuinely-small
        # sides (TPC-H dims, bounded sketches; disabling it entirely was
        # measured 2x on q5 at sf0.1).  Corpus-sized aggregate sides are
        # individually pinned to shuffle joins with merge hints in the
        # operators — Catalyst's size-only estimator shrinks them below
        # ANY threshold, which aborted substring_dedup's 100x rehearsal
        # on a >1 GiB estimate-based broadcast (r9).
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # driver fixtures store events.ts as TIMESTAMP(NANOS); read as long
        # and convert in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # never list files in a Spark job: the txlog already names every
        # file a read takes, and stats on local files are cheap
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        # no Python call-site capture per column/DataFrame call: it costs
        # ~10 py4j round trips per `F.col` while planning.  PySpark caches
        # the flag at its first check in a process, which comes after
        # getOrCreate, so the builder conf is enough
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
