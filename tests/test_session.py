"""The engine's session config (`session.get_spark`)."""

from __future__ import annotations


def test_dataframe_call_site_capture_is_off(spark):
    """PySpark 4 records the Python call site of every column and
    DataFrame call (`_with_origin`: ~10 py4j round trips per `F.col`)
    unless `spark.python.sql.dataFrameDebugging.enabled` is false; the
    engine's session turns it off, and PySpark caches the flag for the
    process at its first check."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
