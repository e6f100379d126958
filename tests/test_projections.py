"""ProjectedTable — ClickHouse PROJECTION analogue (sources/projections.py):
routing picks the copy sorted for the predicate, every copy answers
identically, the routed copy actually prunes row groups the primary
cannot, and every write is a log commit per copy.  Files a replace commit
retired stay on disk until `vacuum()`, so file-level checks look at each
copy's committed files (`data_files()`), never at its directory."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.sources.projections import ProjectedTable
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable


@pytest.fixture()
def table(spark, tmp_path):
    t = ProjectedTable(
        str(tmp_path / "pt"),
        {"primary": ["ts", "event_id"], "by_user": ["user_id", "ts"]},
    )
    df = (
        spark.range(20_000)
        .selectExpr(
            "id as event_id",
            "timestamp_micros(cast(id * 1000000 as long)) as ts",
            "cast(hash(id) % 500 as long) as user_id",
            "id * 2 as value",
        )
        .repartition(4)
    )
    t.write(df)
    return t, df


def _values(path: str, col: str) -> list:
    """One committed file's `col` values, in file order."""
    return pq.read_table(path, columns=[col]).column(col).to_pylist()


def test_routing_rule(table):
    t, _df = table
    assert t.choose(["ts"]) == "primary"
    assert t.choose(["user_id"]) == "by_user"
    assert t.choose(["user_id", "ts"]) == "by_user"  # longer prefix wins
    assert t.choose(["value"]) == "primary"  # unsorted filter -> primary
    assert t.choose([]) == "primary"


def test_all_copies_answer_identically(spark, table):
    t, df = table
    want = sorted(r["event_id"] for r in df.filter(F.col("user_id") == 77).collect())
    for cols in (["user_id"], ["ts"], ["value"]):
        got = sorted(
            r["event_id"]
            for r in t.read_for(spark, cols).filter(F.col("user_id") == 77).collect()
        )
        assert got == want


def test_projection_prunes_where_primary_cannot(spark, table):
    t, _df = table

    def span(name: str, col: str) -> float:
        """Mean per-FILE (max - min) of `col`, normalized by the full
        range — tight file spans are what min/max pruning feeds on (each
        projection file owns a narrow range slice of ITS sort key)."""
        spans, lo_all, hi_all = [], None, None
        for f in t.copies[name].data_files():
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            los = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
            his = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
            spans.append(max(his) - min(los))
            lo_all = min(los) if lo_all is None else min(lo_all, *los)
            hi_all = max(his) if hi_all is None else max(hi_all, *his)
        return (sum(spans) / len(spans)) / max(hi_all - lo_all, 1)

    # user_id file spans: ~1/slices in the by_user copy (4 slices on the
    # local[4] test session), near-full in primary
    assert span("by_user", "user_id") <= 0.3
    assert span("primary", "user_id") > 0.8
    assert span("by_user", "user_id") < span("primary", "user_id") / 2


def test_insert_keeps_per_file_sort(spark, table):
    t, df = table
    t.insert(df.filter(F.col("event_id") < 100))
    back = t.read_for(spark, ["user_id"])
    assert back.count() == 20_100
    # every committed file in the by_user copy is internally sorted on user_id
    for f in t.copies["by_user"].data_files():
        vals = _values(f, "user_id")
        assert vals == sorted(vals)


def test_primary_required():
    with pytest.raises(ValueError):
        ProjectedTable("/tmp/x", {"by_user": ["user_id"]})


def test_optimize_restores_slice_layout_and_routing(spark, table):
    """After inserts fragment each copy into overlapping slice families,
    optimize() must collapse it back to one range-sliced sorted file
    family — per-file disjoint slices, in-file sort, identical rows,
    routing intact — or routed scans pay one footer and one task per
    tiny file."""
    t, df = table
    for k in range(3):
        t.insert(df.filter(F.col("event_id").between(k * 100, k * 100 + 99)))
    by_user = t.copies["by_user"]
    files_before = len(by_user.data_files())
    rows_before = t.read_for(spark, ["user_id"]).count()

    t.optimize(spark, files=4)

    files_after = by_user.data_files()
    assert len(files_after) == 4 < files_before
    assert t.read_for(spark, ["user_id"]).count() == rows_before
    # per-file disjoint user_id slices (the range layout) + in-file sort
    spans = []
    for f in files_after:
        vals = _values(f, "user_id")
        assert vals == sorted(vals)
        spans.append((vals[0], vals[-1]))
    spans.sort()
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi <= lo
    # routing still serves the same rows through the rewritten copy
    routed = t.read_for(spark, ["user_id"]).filter(F.col("user_id") == 7)
    plain = t.copies["primary"].read(spark).filter(F.col("user_id") == 7)
    assert sorted(r["event_id"] for r in routed.collect()) == sorted(
        r["event_id"] for r in plain.collect()
    )


def test_optimize_is_one_log_commit_per_copy(spark, tmp_path, monkeypatch):
    """Projection compaction commits through each copy's log: a failure
    injected into the commit publish leaves every copy at its old version
    with every row readable; an insert that commits between optimize's
    snapshot read and its commit is kept (the rewrite retries from the
    new snapshot); a read pinned at the pre-optimize version still
    returns the same rows afterwards."""
    t = ProjectedTable(str(tmp_path / "t"), {"primary": ["id"], "by_m": ["m", "id"]})
    t.write(spark.range(100).selectExpr("id", "id % 7 as m").repartition(8), files=8)
    before = {name: copy.version() for name, copy in t.copies.items()}
    rows = sorted(r["id"] for r in t.read_for(spark, ["id"]).collect())
    assert rows == list(range(100))

    def fail(self, payload, dest_path):
        raise OSError("injected publish failure")

    monkeypatch.setattr(TransactionalTable, "_publish", fail)
    with pytest.raises(OSError, match="injected"):
        t.optimize(spark, files=2)
    monkeypatch.undo()
    assert {name: copy.version() for name, copy in t.copies.items()} == before
    assert t.read_for(spark, ["id"]).count() == 100

    real_optimize = TransactionalTable.optimize
    raced = []

    def racing_optimize(self, spark, transform=None, **kwargs):
        def insert_then_transform(df):
            if not raced:  # once: into every copy, before the first commit
                raced.append(self.path)
                t.insert(spark.range(100, 110).selectExpr("id", "id % 7 as m"))
            return transform(df)

        return real_optimize(self, spark, transform=insert_then_transform, **kwargs)

    monkeypatch.setattr(TransactionalTable, "optimize", racing_optimize)
    t.optimize(spark, files=2)
    monkeypatch.undo()
    assert raced
    for name, copy in t.copies.items():
        # write 0, the racing insert 1, optimize's replace commit 2
        assert copy.version() == before[name] + 2
        assert len(copy.data_files()) == 2
        assert sorted(r["id"] for r in copy.read(spark).collect()) == list(range(110))
        assert sorted(r["id"] for r in copy.read(spark, before[name]).collect()) == rows


def test_read_for_plans_with_zero_spark_jobs(spark, table):
    """The routed read plans off the copy's log (files and schema), so
    planning it starts no Spark job — no listing, no footer inference."""
    t, _df = table
    sc = spark.sparkContext
    group = "plan-read-for"
    sc.setJobGroup(group, group)
    try:
        t.read_for(spark, ["user_id"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
