"""The state/merge round-trip property — the single most valuable invariant
in the pipeline (/root/reference/README.rst:254-272; SURVEY.md §5).

For ANY partition of the input rows into blocks:

    merge(state(block_1), ..., state(block_n)) == agg(all rows)

The reference demonstrates this manually (querying states before and after
merge); here it is property-tested over random block assignments, plus the
SummingMergeTree collapse (compaction preserves the merged answer).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.functions.agg_state import (
    avg_merge,
    avg_state,
    check_uint16_domain,
    max_merge,
    max_state,
    min_merge,
    min_state,
    sum_states,
    uniq_merge,
    uniq_merge_state,
    uniq_state,
)
from apache_kafka_clickhouse_demo_spark.operators import attendance
from apache_kafka_clickhouse_demo_spark.sources.tables import load_table


def _direct(df):
    return {
        tuple(r[:1]): r[1:]
        for r in df.groupBy("key")
        .agg(
            F.max("v").alias("mx"),
            F.min("v").alias("mn"),
            F.avg("v").alias("av"),
        )
        .collect()
    }


def _via_states(df, n_blocks: int, seed: int):
    # random block assignment — a fresh arbitrary split every seed
    blocked = df.withColumn(
        "block", F.pmod(F.hash(F.col("v") + F.lit(seed)), F.lit(n_blocks))
    )
    states = blocked.groupBy("key", "block").agg(
        max_state("v").alias("max_state"),
        min_state("v").alias("min_state"),
        avg_state("v").alias("avg_state"),
    )
    merged = states.groupBy("key").agg(
        max_merge("max_state").alias("mx"),
        min_merge("min_state").alias("mn"),
        avg_merge("avg_state").alias("av"),
    )
    return {tuple(r[:1]): r[1:] for r in merged.collect()}


@pytest.fixture(scope="module")
def kv(spark):
    rnd = random.Random(11)
    rows = [(f"k{rnd.randrange(8)}", rnd.randrange(0, 1000)) for _ in range(2000)]
    return spark.createDataFrame(rows, "key string, v int").cache()


@pytest.mark.parametrize("seed,n_blocks", [(1, 2), (2, 7), (3, 64), (4, 1)])
def test_state_merge_round_trip(kv, seed, n_blocks):
    direct = _direct(kv)
    merged = _via_states(kv, n_blocks, seed)
    assert merged.keys() == direct.keys()
    for k in direct:
        dmx, dmn, dav = direct[k]
        mmx, mmn, mav = merged[k]
        assert (mmx, mmn) == (dmx, dmn)
        assert mav == pytest.approx(dav, rel=1e-12)


def test_summing_collapse_preserves_merge(kv):
    """S6/A8: collapsing same-key partial rows (SummingMergeTree merge)
    changes the stored row count but not the merged read answer."""
    states = kv.withColumn("block", F.pmod(F.hash("v"), F.lit(16))).groupBy(
        "key", "block"
    ).agg(
        max_state("v").alias("max_state"),
        min_state("v").alias("min_state"),
        avg_state("v").alias("avg_state"),
    )
    collapsed = states.groupBy("key").agg(
        max_merge("max_state").alias("max_state"),
        min_merge("min_state").alias("min_state"),
        sum_states("avg_state").alias("avg_state"),
    )
    assert collapsed.count() < states.count()

    def read(d):
        return {
            r["key"]: (r["mx"], r["mn"], r["av"])
            for r in d.groupBy("key")
            .agg(
                max_merge("max_state").alias("mx"),
                min_merge("min_state").alias("mn"),
                avg_merge("avg_state").alias("av"),
            )
            .collect()
        }

    a, b = read(states), read(collapsed)
    assert a.keys() == b.keys()
    for k in a:
        assert a[k][0] == b[k][0] and a[k][1] == b[k][1]
        assert a[k][2] == pytest.approx(b[k][2], rel=1e-12)


def test_attendance_cascade_block_invariance(spark, sf_dir):
    """The full cascade gives identical results whether states are built in
    one block or per-hour blocks (the M3 stored-partial-rows path)."""
    events = load_table(spark, sf_dir, "events")
    one_block = attendance.attendance_rollup(events).collect()
    per_hour = attendance.attendance_rollup(
        events, block_col_expr=F.col("ts_hour")
    ).collect()
    assert len(one_block) == len(per_hour)
    for a, b in zip(one_block, per_hour):
        assert a["day"] == b["day"] and a["event_type"] == b["event_type"]
        assert a["max_students"] == b["max_students"]
        assert a["min_students"] == b["min_students"]
        assert a["avg_students"] == pytest.approx(b["avg_students"], abs=1e-4)


@pytest.mark.parametrize("seed,n_blocks", [(5, 2), (6, 16), (7, 1)])
def test_uniq_state_merge_round_trip(kv, seed, n_blocks):
    """AggregateFunction(uniq) parity: for ANY block split, the merged
    per-block HLL sketches reproduce the single whole-input sketch's
    estimate EXACTLY (register-wise union is associative), and the estimate
    is within the lg_k=12 HLL error bound of the exact count."""
    direct = {
        r["key"]: r["u"]
        for r in kv.groupBy("key")
        .agg(F.hll_sketch_estimate(uniq_state("v")).alias("u"))
        .collect()
    }
    blocked = kv.withColumn(
        "block", F.pmod(F.hash(F.col("v") + F.lit(seed)), F.lit(n_blocks))
    )
    states = blocked.groupBy("key", "block").agg(uniq_state("v").alias("uniq_state"))
    merged = {
        r["key"]: r["u"]
        for r in states.groupBy("key").agg(uniq_merge("uniq_state").alias("u")).collect()
    }
    exact = {
        r["key"]: r["n"]
        for r in kv.groupBy("key").agg(F.countDistinct("v").alias("n")).collect()
    }
    assert merged == direct  # block-split invariance, exact
    for k, n in exact.items():
        assert merged[k] == pytest.approx(n, rel=0.05)  # ~3x the 1.6% rsd


def test_uniq_state_compaction_path(kv, tmp_path):
    """The uniq sketch rides the SAME SummingMergeTree compaction as
    max/min/avg states: append per-block sketch rows, compact_summing with
    the sketch union, and the merged read answer is unchanged."""
    from apache_kafka_clickhouse_demo_spark.sources.storage import compact_summing
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

    spark = kv.sparkSession
    states = kv.withColumn("block", F.pmod(F.hash("v"), F.lit(8))).groupBy(
        "key", "block"
    ).agg(uniq_state("v").alias("uniq_state")).drop("block")
    t = TransactionalTable(str(tmp_path / "t"))
    t.append(states)

    def read(d):
        return {
            r["key"]: r["u"]
            for r in d.groupBy("key").agg(uniq_merge("uniq_state").alias("u")).collect()
        }

    before = read(t.read(spark))
    compact_summing(
        spark, t, keys=["key"],
        agg_exprs={"uniq_state": uniq_merge_state("uniq_state")},
    )
    compacted = t.read(spark)
    assert compacted.count() == kv.select("key").distinct().count()
    assert read(compacted) == before


def test_uint16_domain_check(spark):
    ok = spark.createDataFrame([(0,), (65535,)], "c int")
    assert check_uint16_domain(ok, "c") is ok
    bad = spark.createDataFrame([(1,), (70000,)], "c int")
    with pytest.raises(ValueError, match="UInt16"):
        check_uint16_domain(bad, "c")
