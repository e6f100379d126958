"""Sorted/partitioned storage write path (S5 sink, S7, O4, S6 compaction)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.functions.agg_state import (
    avg_merge,
    avg_state,
    sum_states,
)
from apache_kafka_clickhouse_demo_spark.plans.explain import formatted_plan
from apache_kafka_clickhouse_demo_spark.sources.storage import (
    compact_summing,
    insert_into,
    write_sorted,
)
from apache_kafka_clickhouse_demo_spark.sources.tables import load_table
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable


def test_write_sorted_round_trip_and_partition_pruning(spark, sf_dir, tmp_path):
    """O4/S5: partitioned sorted write; a partition predicate prunes at scan
    (the MergeTree sparse-index analogue, README.rst:88-89)."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_day")
    write_sorted(events, path, sort_cols=["ts"], partition_cols=["day"])

    back = spark.read.parquet(path)
    assert back.count() == events.count()

    # files inside each day directory are internally sorted by ts
    one_day = [d for d in os.listdir(path) if d.startswith("day=")][0]
    day_df = spark.read.parquet(os.path.join(path, one_day))
    ts_list = [r["ts"] for r in day_df.select("ts").collect()]
    assert ts_list == sorted(ts_list)

    # partition pruning visible in the physical plan
    some_day = back.select("day").orderBy("day").first()["day"]
    plan = formatted_plan(back.filter(F.col("day") == F.lit(some_day)))
    assert "PartitionFilters" in plan
    assert plan.count("day)") >= 1 or "day#" in plan


def test_insert_into_appends(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    write_sorted(df, path, sort_cols=["id"])
    insert_into(df.filter(F.col("id") < 3), path)
    assert spark.read.parquet(path).count() == 13


def test_compact_summing_preserves_read(spark, tmp_path):
    """S6/A8: background-merge compaction collapses same-key partial state
    rows without changing the merged read answer (README.rst:214-216)."""
    rows = [("a", b, v) for b in range(4) for v in range(10)] + [
        ("b", b, v * 3) for b in range(3) for v in range(5)
    ]
    df = spark.createDataFrame(rows, "key string, block int, v int")
    states = df.groupBy("key", "block").agg(avg_state("v").alias("avg_state"))
    t = TransactionalTable(str(tmp_path / "states"))
    t.append(states)

    def merged_read():
        return {
            r["key"]: r["av"]
            for r in t.read(spark)
            .groupBy("key")
            .agg(avg_merge("avg_state").alias("av"))
            .collect()
        }

    before = merged_read()
    n_before = t.read(spark).count()
    compact_summing(
        spark, t, keys=["key"], agg_exprs={"avg_state": sum_states("avg_state")}
    )
    after = merged_read()
    assert t.read(spark).count() < n_before
    assert before.keys() == after.keys()
    for k in before:
        assert abs(before[k] - after[k]) < 1e-12


def test_zorder_layout_bounds_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order vs single-column sort: with a day-sorted layout every file
    spans the FULL user range (user predicates prune nothing); with the
    Morton key over (day, user) every file is a hyper-rectangle — per-file
    min/max spans shrink in BOTH dimensions, which is exactly what makes
    row-group/file stats prune selective predicates on either column."""
    import glob

    from apache_kafka_clickhouse_demo_spark.sources.storage import zorder_value

    events = load_table(spark, sf_dir, "events").select("user_id", F.to_date("ts").alias("d"))
    day0 = events.agg(F.min("d")).first()[0]
    dims = events.select(
        "user_id", F.datediff("d", F.lit(day0)).alias("day_num")
    )

    def spans(path):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            row = spark.read.parquet(f).agg(
                F.max("user_id") - F.min("user_id"),
                F.max("day_num") - F.min("day_num"),
            ).first()
            out.append((row[0], row[1]))
        return out

    by_day = str(tmp_path / "by_day")
    dims.repartitionByRange(8, "day_num").sortWithinPartitions("day_num").write.parquet(by_day)

    z = zorder_value(["day_num", "user_id"], bits=8)
    by_z = str(tmp_path / "by_z")
    dims.withColumn("_z", z).repartitionByRange(8, "_z").sortWithinPartitions(
        "_z"
    ).drop("_z").write.parquet(by_z)

    day_spans = spans(by_day)
    z_spans = spans(by_z)
    avg = lambda xs: sum(xs) / len(xs)  # noqa: E731

    # single-dim layout: tight on day, blind on user (files span ~all users)
    full_user = dims.agg(F.max("user_id") - F.min("user_id")).first()[0]
    assert avg([u for u, _ in day_spans]) > 0.9 * full_user
    # z-order layout: user spans shrink decisively, day spans stay bounded
    assert avg([u for u, _ in z_spans]) < 0.6 * avg([u for u, _ in day_spans])
    full_day = dims.agg(F.max("day_num")).first()[0]
    assert avg([d for _, d in z_spans]) <= full_day
    # round-trip identity
    assert spark.read.parquet(by_z).count() == dims.count()


def test_zorder_value_matches_python_bit_interleave(spark):
    """zorder_value is exact Morton interleaving: verify the codegen bit
    arithmetic against a plain-Python mirror over random coordinate pairs
    (masking included: out-of-range inputs wrap to the low bits)."""
    import random

    from apache_kafka_clickhouse_demo_spark.sources.storage import zorder_value

    rng = random.Random(7)
    pts = [(rng.randrange(0, 1 << 10), rng.randrange(0, 1 << 10)) for _ in range(200)]

    def morton(x, y, bits=8):
        z = 0
        for b in range(bits):
            z |= ((x >> b) & 1) << (2 * b)
            z |= ((y >> b) & 1) << (2 * b + 1)
        return z

    df = spark.createDataFrame(pts, "x long, y long").withColumn(
        "z", zorder_value(["x", "y"], bits=8)
    )
    got = {(r["x"], r["y"]): r["z"] for r in df.collect()}
    for x, y in pts:
        assert got[(x, y)] == morton(x & 0xFF, y & 0xFF)


def _file_spans(spark, path, xcol, ycol):
    import glob

    out = []
    for f in glob.glob(f"{path}/**/*.parquet", recursive=True):
        row = (
            spark.read.parquet(f)
            .agg(F.max(xcol) - F.min(xcol), F.max(ycol) - F.min(ycol))
            .first()
        )
        out.append((row[0], row[1]))
    return out


def _avg(xs):
    return sum(xs) / len(xs)


def test_txlog_optimize_cluster_cols_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The transactional table's OPTIMIZE accepts the same cluster_cols:
    post-compaction files are hyper-rectangles in both dimensions, and the
    snapshot read is unchanged."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

    events = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    day0 = events.agg(F.min("d")).first()[0]
    dims = events.select("user_id", F.datediff("d", F.lit(day0)).alias("day_num"))

    t = TransactionalTable(str(tmp_path / "t"))
    # several appends -> fragmented snapshot, like a streaming MV's commits
    for i in range(4):
        t.append(dims.filter(F.pmod("user_id", F.lit(4)) == i).repartition(4))

    before = sorted(tuple(r) for r in t.read(spark).collect())
    t.optimize(spark, target_files=8, cluster_cols=["day_num", "user_id"])
    after_df = t.read(spark)
    assert sorted(tuple(r) for r in after_df.collect()) == before

    # measure spans over the CURRENT snapshot's files only
    spans = []
    for f in t.data_files():
        row = (
            spark.read.parquet(f)
            .agg(
                F.max("user_id") - F.min("user_id"),
                F.max("day_num") - F.min("day_num"),
            )
            .first()
        )
        spans.append((row[0], row[1]))
    assert len(spans) == 8
    full_user = dims.agg(F.max("user_id") - F.min("user_id")).first()[0]
    full_day = dims.agg(F.max("day_num")).first()[0]
    assert _avg([u for u, _ in spans]) < 0.6 * full_user
    assert _avg([d for _, d in spans]) < 0.6 * full_day


def test_zorder_cluster_key_normalization_edges(spark):
    """zorder_cluster_key must accept arbitrary column types and edge
    shapes: negatives (min/max scaling shifts them), NULLs (mapped to the
    column min), constant columns (degenerate range -> 0), strings
    (hash-bucketed), and dates (scaled via timestamp)."""
    import datetime

    from apache_kafka_clickhouse_demo_spark.sources.storage import zorder_cluster_key

    rows = [
        (-100, None, "alpha", datetime.date(2020, 1, 1), 7),
        (0, 2.5, "beta", datetime.date(2021, 6, 15), 7),
        (50, -3.25, None, None, 7),
        (999, 0.0, "alpha", datetime.date(2022, 12, 31), 7),
    ]
    df = spark.createDataFrame(
        rows, "i long, x double, s string, d date, const int"
    )
    z = zorder_cluster_key(df, ["i", "x", "s", "d", "const"], bits=8)
    vals = [r["z"] for r in df.withColumn("z", z).collect()]
    assert all(v is not None and 0 <= v < (1 << 40) for v in vals)
    # deterministic: same input -> same key
    vals2 = [r["z"] for r in df.withColumn("z", z).collect()]
    assert vals == vals2
    # equal string values land in the same cell: rows 0 and 3 share s='alpha';
    # check by clustering on the string alone
    zs = zorder_cluster_key(df, ["s"], bits=8)
    got = {r["i"]: r["z"] for r in df.withColumn("z", zs).collect()}
    assert got[-100] == got[999]
    # constant column contributes 0 bits (all rows same cell on it)
    zc = zorder_cluster_key(df, ["const"], bits=8)
    assert {r["z"] for r in df.withColumn("z", zc).collect()} == {0}


def test_zorder_cluster_key_on_empty_table(spark):
    """An empty table's min/max stats are NULL — the key must degrade to
    a constant instead of raising."""
    from apache_kafka_clickhouse_demo_spark.sources.storage import zorder_cluster_key

    empty = spark.createDataFrame([], "i long, s string")
    z = zorder_cluster_key(empty, ["i", "s"], bits=8)
    assert empty.withColumn("z", z).count() == 0


def test_atomic_swap_tolerates_stale_old_and_restores_on_failure(
    spark, tmp_path, monkeypatch
):
    """Crash-recovery contract of the projection compaction swap: a stale
    <copy>_old from an interrupted run must not fail the next compaction,
    and a failure of the second rename must RESTORE the original copy
    instead of leaving no copy at all."""
    import os as _os

    from apache_kafka_clickhouse_demo_spark.sources.projections import ProjectedTable

    t = ProjectedTable(str(tmp_path / "t"), {"primary": ["id"]})
    t.write(spark.range(100).repartition(8), files=8)
    path = _os.path.join(t.path, "primary")
    _os.makedirs(path + "_old")  # stale debris from an interrupted swap
    with open(path + "_old/junk", "w") as fh:
        fh.write("x")
    t.optimize(spark, files=1)
    n = len([f for f in _os.listdir(path) if f.endswith(".parquet")])
    assert n == 1 and spark.read.parquet(path).count() == 100
    assert not _os.path.exists(path + "_old")

    # inject a failure into the SECOND rename (tmp -> path)
    real_rename = _os.rename
    calls = {"n": 0}

    def flaky(srcp, dstp):
        if dstp.rstrip("/") == path and calls["n"] == 0:
            calls["n"] += 1
            raise OSError("injected failure on tmp -> path")
        return real_rename(srcp, dstp)

    monkeypatch.setattr(_os, "rename", flaky)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected"):
        t.optimize(spark, files=2)
    monkeypatch.undo()
    # the ORIGINAL table was restored — readers still see every row
    assert spark.read.parquet(path).count() == 100


def test_write_sorted_bloom_skip_index(spark, tmp_path):
    """bloom_cols (the `INDEX ... TYPE bloom_filter` skip-index analogue)
    plumbs per-column bloom options into the parquet writer: the bloomed
    file carries the extra filter bytes, and the reader still point-filters
    correctly (bloom is advisory, never lossy)."""
    import glob

    # high cardinality on purpose: parquet only materializes a bloom when
    # the column's dictionary page overflows (a fully dictionary-encoded
    # row group already has an exact membership filter)
    df = spark.range(100_000).selectExpr(
        "id", "cast(hash(id) as string) as tag"
    ).coalesce(1)
    plain = str(tmp_path / "plain")
    bloomed = str(tmp_path / "bloomed")
    write_sorted(df, plain, sort_cols=["id"])
    write_sorted(df, bloomed, sort_cols=["id"], bloom_cols=["tag"], bloom_ndv=100_000)

    size = lambda p: sum(  # noqa: E731
        os.path.getsize(f) for f in glob.glob(os.path.join(p, "*.parquet"))
    )
    assert size(bloomed) > size(plain)  # the filter bytes are really there

    probe = df.first()["tag"]
    got = spark.read.parquet(bloomed).filter(F.col("tag") == probe)
    want = spark.read.parquet(plain).filter(F.col("tag") == probe)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )
