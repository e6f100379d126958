"""The stream rows' shared feed and drain helpers in `queries.py`."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark import queries as Q


@pytest.mark.parametrize("hi", [1, 3, 10, 1203])
def test_id_blocks_keep_the_quartile_boundaries(spark, hi):
    """`_id_blocks` puts every id in the block the stream rows' own
    quartile filters did (ids 0..hi, and a NULL id)."""
    rows = [(i,) for i in range(hi + 1)] + [(None,)]
    df = spark.createDataFrame(rows, "doc_id long")
    ids = F.col("doc_id")
    old = (
        F.when(ids <= (hi * 1) // 4, 0)
        .when(ids <= (hi * 2) // 4, 1)
        .when(ids <= (hi * 3) // 4, 2)
        .otherwise(3)
    )
    got = df.select(Q._id_blocks(df, "doc_id").alias("new"), old.alias("old"))
    assert [(r["new"], r["old"]) for r in got.collect() if r["new"] != r["old"]] == []


def test_drain_stops_the_query_when_the_drain_raises(spark, tmp_path):
    """A drain whose transform fails raises, and leaves no query running
    or holding its checkpoint; so does a drain interrupted while its
    query is still live."""
    feed = str(tmp_path / "feed")
    spark.range(10).write.parquet(feed)
    src = spark.readStream.schema("id long").parquet(feed)

    def start(df, name):
        return (
            df.writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / name))
            .trigger(availableNow=True)
            .start()
        )

    failing = start(src.select(F.assert_true(F.col("id") < 0)), "ck_fail")
    with pytest.raises(Exception, match="assert_true|id < 0"):
        Q._drain(failing)
    assert not failing.isActive and spark.streams.active == []

    live = (
        src.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck_live"))
        .trigger(processingTime="1 hour")
        .start()
    )

    class _Interrupted:
        def processAllAvailable(self):
            raise RuntimeError("interrupted")

        def stop(self):
            live.stop()

    with pytest.raises(RuntimeError, match="interrupted"):
        Q._drain(_Interrupted())
    assert not live.isActive and spark.streams.active == []
