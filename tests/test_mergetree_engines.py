"""ReplacingMergeTree / VersionedCollapsingMergeTree / SummingMergeTree /
TTL engine semantics (sources/storage.py), each merge one replace commit
on a `TransactionalTable`."""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.sources.storage import (
    apply_ttl,
    collapse_versioned,
    compact_collapsing,
    compact_replacing,
    compact_summing,
    read_replacing_final,
)
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable


def _table(tmp_path, name, df, partition_by=None):
    t = TransactionalTable(str(tmp_path / name))
    t.append(df, partition_by=partition_by)
    return t


def _snapshot_dirs(t):
    """Top-level directories of the files the snapshot names."""
    return {os.path.relpath(f, t.path).split(os.sep)[0] for f in t.data_files()}


def _upserts(spark):
    # key "a": three versions; key "b": version tie broken by seq; key "c": one
    rows = [
        ("a", 1, 0, "v1"),
        ("a", 3, 1, "v3"),
        ("a", 2, 2, "v2"),
        ("b", 5, 1, "old-tie"),
        ("b", 5, 2, "new-tie"),
        ("c", 9, 0, "only"),
    ]
    return spark.createDataFrame(rows, "k string, ver int, seq int, payload string")


def test_replacing_final_read_and_compaction_agree(spark, tmp_path):
    df = _upserts(spark)
    expect = {("a", "v3"), ("b", "new-tie"), ("c", "only")}

    # FINAL read over the raw upsert log
    got = {
        (r["k"], r["payload"])
        for r in read_replacing_final(df, ["k"], "ver", ["seq"]).collect()
    }
    assert got == expect

    # background merge: stored rows collapse, FINAL read unchanged
    t = _table(tmp_path, "t", df)
    compact_replacing(spark, t, keys=["k"], version_col="ver", tiebreak=["seq"])
    back = t.read(spark)
    assert back.count() == 3  # one row per key remains in the snapshot
    got2 = {
        (r["k"], r["payload"])
        for r in read_replacing_final(back, ["k"], "ver", ["seq"]).collect()
    }
    assert got2 == expect


def test_replacing_partitioned_keeps_layout(spark, tmp_path):
    df = _upserts(spark)
    t = _table(tmp_path, "p", df, partition_by="k")
    with pytest.raises(ValueError, match="must be one of the keys"):
        compact_replacing(spark, t, keys=["ver"], version_col="seq")
    compact_replacing(
        spark,
        t,
        keys=["k", "ver"],  # version within partition key set is allowed
        version_col="seq",
    )
    assert sorted(_snapshot_dirs(t)) == ["k=a", "k=b", "k=c"]
    assert t.read(spark).count() == 5  # the two "b" rows share ver=5


def test_collapse_versioned_annihilates_matched_pairs(spark):
    rows = [
        # key a, version 1: matched pair -> vanishes
        ("a", 1, 1, 10),
        ("a", 1, -1, 10),
        # key a, version 2: unmatched state survives
        ("a", 2, 1, 20),
        # key b, version 1: unmatched cancel survives with sign -1
        ("b", 1, -1, 5),
        # key c, version 1: two states, one cancel -> +1 survivor, mult 1
        ("c", 1, 1, 7),
        ("c", 1, 1, 8),
        ("c", 1, -1, 7),
    ]
    df = spark.createDataFrame(rows, "k string, ver int, sign int, v int")
    out = {
        (r["k"], r["ver"]): (r["sign"], r["multiplicity"], r["v"])
        for r in collapse_versioned(df, ["k"], "sign", "ver", ["v"]).collect()
    }
    assert ("a", 1) not in out
    assert out[("a", 2)] == (1, 1, 20)
    assert out[("b", 1)] == (-1, 1, 5)
    # winning sign +1, max-tiebreak payload (v=8), multiplicity |2-1|=1
    assert out[("c", 1)] == (1, 1, 8)


def test_compact_collapsing_roundtrip_and_idempotence(spark, tmp_path):
    rows = [
        ("u", 1, 1, 100),
        ("u", 1, -1, 100),
        ("u", 2, 1, 250),
    ]
    df = spark.createDataFrame(rows, "k string, ver int, sign int, bal int")
    t = _table(tmp_path, "c", df)
    compact_collapsing(spark, t, keys=["k"], sign_col="sign", version_col="ver")
    first = [r.asDict() for r in t.read(spark).collect()]
    assert len(first) == 1 and first[0]["bal"] == 250

    # a second merge over the already-collapsed table is a no-op
    compact_collapsing(spark, t, keys=["k"], sign_col="sign", version_col="ver")
    again = [r.asDict() for r in t.read(spark).collect()]
    assert again == first


def test_apply_ttl_partition_drop_fast_path(spark, tmp_path):
    ev = spark.createDataFrame(
        [(i, f"2024-01-{d:02d} {h:02d}:00:00") for i, (d, h) in enumerate(
            [(1, 5), (1, 20), (2, 3), (2, 18), (3, 4), (3, 23)]
        )],
        "id long, s string",
    ).select("id", F.col("s").cast("timestamp").alias("ts"), F.to_date("s").alias("day"))
    t = _table(tmp_path, "ttl", ev, partition_by="day")

    # record the live day's file identities: the fast path must not rewrite it
    live = [f for f in t.data_files() if f"{os.sep}day=2024-01-03{os.sep}" in f]
    assert live

    stats = apply_ttl(spark, t, "ts", "2024-01-02 12:00:00", partition_day_col="day")
    assert stats == {"dropped_dirs": 1, "rewritten": 1}
    assert "day=2024-01-01" not in _snapshot_dirs(t)  # no file of that day
    assert set(live) <= set(t.data_files())  # same names: untouched bytes

    kept = sorted(r["id"] for r in t.read(spark).collect())
    assert kept == [3, 4, 5]  # 01-02 18:00 survives the mid-day cutoff

    with pytest.raises(ValueError, match="partition column"):
        apply_ttl(spark, t, "ts", "2024-01-02 12:00:00", partition_day_col="ts")


def test_apply_ttl_unpartitioned_rewrite(spark, tmp_path):
    # a NULL timestamp has no age: the row survives, as on the partitioned path
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-02-01 00:00:00"), (3, None)],
        "id long, s string",
    ).select("id", F.col("s").cast("timestamp").alias("ts"))
    t = _table(tmp_path, "flat", df)
    stats = apply_ttl(spark, t, "ts", "2024-01-15 00:00:00")
    assert stats == {"dropped_dirs": 0, "rewritten": 1}
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3]
    with pytest.raises(ValueError, match="partition column"):
        t.optimize(spark, partitions=["2024-01-01"])  # unpartitioned table


def test_apply_ttl_skips_unparsable_partition_dirs(spark, tmp_path):
    # NULL-ts rows produce day=__HIVE_DEFAULT_PARTITION__, which must not
    # fail the TTL pass and never expires
    ev = spark.createDataFrame(
        [(1, "2024-01-01 05:00:00"), (2, "2024-01-03 05:00:00"), (3, None)],
        "id long, s string",
    ).select("id", F.col("s").cast("timestamp").alias("ts"), F.to_date("s").alias("day"))
    t = _table(tmp_path, "ttlx", ev, partition_by="day")

    stats = apply_ttl(spark, t, "ts", "2024-01-02 00:00:00", partition_day_col="day")
    assert stats == {"dropped_dirs": 1, "rewritten": 0}
    kept = sorted(
        r["id"] for r in t.read(spark).filter(F.col("ts").isNotNull()).collect()
    )
    assert kept == [2]
    # the NULL-ts row also survives in the default partition
    assert sorted(r["id"] for r in t.read(spark).collect()) == [2, 3]


def test_snapshot_diff_feeds_the_collapse_back_to_new(spark):
    """The CDC contract: old + snapshot_diff(old, new) collapses to new —
    including multiset duplicates — and an unchanged table diffs empty."""
    from apache_kafka_clickhouse_demo_spark.sources.storage import snapshot_diff

    old = spark.createDataFrame(
        [("a", 1), ("b", 2), ("dup", 9), ("dup", 9)], "k string, v int"
    )
    new = spark.createDataFrame(
        [("a", 5), ("b", 2), ("dup", 9), ("c", 7)], "k string, v int"
    )
    diff = snapshot_diff(old, new)
    got = {(r["k"], r["v"], r["sign"]) for r in diff.collect()}
    assert got == {("a", 1, -1), ("a", 5, 1), ("dup", 9, -1), ("c", 7, 1)}

    # applying the log: old(+1) union diff, net-summed per full row == new
    applied = (
        old.withColumn("sign", F.lit(1))
        .unionByName(diff)
        .groupBy("k", "v")
        .agg(F.sum("sign").alias("net"))
        .filter(F.col("net") > 0)
    )
    rebuilt = sorted(
        (r["k"], r["v"]) for r in applied.collect() for _ in range(r["net"])
    )
    assert rebuilt == sorted((r["k"], r["v"]) for r in new.collect())

    assert snapshot_diff(new, new).count() == 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        snapshot_diff(old, new.select("v", "k"))  # column order matters

    signed = old.withColumn("sign", F.lit(-1))
    with _pytest.raises(ValueError):  # sign-carrying inputs are rejected
        snapshot_diff(signed, signed)


def _upserts_with_deletes(spark):
    # key "a": live v1, DELETED at v3, late replay of older v2 must not
    # resurrect; key "b": deleted then re-created at a higher version;
    # key "c": never deleted
    rows = [
        ("a", 1, 0, "v1", 0),
        ("a", 3, 0, "gone", 1),
        ("a", 2, 0, "v2-replay", 0),
        ("b", 1, 0, "b1", 0),
        ("b", 2, 0, "b-gone", 1),
        ("b", 4, 0, "b-back", 0),
        ("c", 9, 0, "only", 0),
    ]
    return spark.createDataFrame(
        rows, "k string, ver int, seq int, payload string, is_deleted int"
    )


def test_replacing_is_deleted_final_read(spark):
    """ReplacingMergeTree(ver, is_deleted): a key whose WINNING version is
    a tombstone is absent from FINAL; older live versions do not
    resurrect it; a re-create above the tombstone wins again."""
    got = {
        (r["k"], r["payload"])
        for r in read_replacing_final(
            _upserts_with_deletes(spark), ["k"], "ver", ["seq"], deleted_col="is_deleted"
        ).collect()
    }
    assert got == {("b", "b-back"), ("c", "only")}


def test_replacing_merge_keeps_tombstones_unless_cleanup(spark, tmp_path):
    """Default merge keeps each key's winning tombstone (a later replay of
    an OLDER version must still lose to it); cleanup=True reclaims it; the
    FINAL answer is identical through every state."""
    df = _upserts_with_deletes(spark)
    expect = {("b", "b-back"), ("c", "only")}
    t = _table(tmp_path, "t", df)

    compact_replacing(
        spark, t, keys=["k"], version_col="ver", tiebreak=["seq"],
        deleted_col="is_deleted",
    )
    back = t.read(spark)
    assert back.count() == 3  # a's tombstone retained, b-back, c
    # the retained tombstone still suppresses a post-merge older replay
    replay = spark.createDataFrame(
        [("a", 2, 9, "late-replay", 0)],
        "k string, ver int, seq int, payload string, is_deleted int",
    )
    merged = back.unionByName(replay)
    got = {
        (r["k"], r["payload"])
        for r in read_replacing_final(
            merged, ["k"], "ver", ["seq"], deleted_col="is_deleted"
        ).collect()
    }
    assert got == expect

    compact_replacing(
        spark, t, keys=["k"], version_col="ver", tiebreak=["seq"],
        deleted_col="is_deleted", cleanup=True,
    )
    back2 = t.read(spark)
    assert back2.count() == 2  # tombstone physically reclaimed
    got2 = {
        (r["k"], r["payload"])
        for r in read_replacing_final(
            back2, ["k"], "ver", ["seq"], deleted_col="is_deleted"
        ).collect()
    }
    assert got2 == expect


def test_replacing_cleanup_requires_deleted_col(spark, tmp_path):
    import pytest as _pytest

    t = _table(tmp_path, "t", _upserts(spark))
    with _pytest.raises(ValueError):
        compact_replacing(
            spark, t, keys=["k"], version_col="ver", cleanup=True
        )


def test_replacing_null_tombstone_flag_is_live(spark, tmp_path):
    """A CDC row missing the is_deleted flag (NULL) is neither live nor
    deleted under a bare `== 0` filter — the key silently vanishes.  NULL
    must read as LIVE (ClickHouse's is_deleted is a non-nullable UInt8; a
    feed that omits it means 'no delete'), in the FINAL read and in a
    cleanup merge alike."""
    rows = [
        ("a", 1, 1, "a-v1", None),   # NULL flag on the winning version
        ("b", 1, 2, "b-v1", 0),
        ("b", 2, 3, "b-gone", 1),    # real tombstone still deletes
    ]
    df = spark.createDataFrame(
        rows, "k string, ver int, seq int, payload string, is_deleted int"
    )
    got = {
        (r["k"], r["payload"])
        for r in read_replacing_final(
            df, ["k"], "ver", ["seq"], deleted_col="is_deleted"
        ).collect()
    }
    assert got == {("a", "a-v1")}

    # a cleanup merge reclaims the real tombstone and keeps the NULL-flag row
    t = _table(tmp_path, "t", df)
    compact_replacing(
        spark, t, keys=["k"], version_col="ver", tiebreak=["seq"],
        deleted_col="is_deleted", cleanup=True,
    )
    assert t.read(spark).count() == 1
    got2 = {
        (r["k"], r["payload"])
        for r in read_replacing_final(
            t.read(spark), ["k"], "ver", ["seq"], deleted_col="is_deleted"
        ).collect()
    }
    assert got2 == {("a", "a-v1")}


def test_summing_merge_under_concurrent_append_and_read(spark, tmp_path):
    """The SummingMergeTree merge runs while an appender commits blocks of
    partial rows and a reader reads the merged sum: every read equals the
    total of some prefix of the committed blocks (no lost or
    double-counted rows mid-merge), and the final read equals the total of
    all of them."""
    n_blocks, keys = 4, ["k0", "k1", "k2"]

    def block(b):  # two partial rows per key; block b adds 2*(b+1) per key
        rows = [(k, b + 1) for k in keys for _ in range(2)]
        return spark.createDataFrame(rows, "k string, v long")

    # per-key total of blocks 0..i: (i+1)(i+2), distinct for every prefix
    prefixes = [{k: (i + 1) * (i + 2) for k in keys} for i in range(n_blocks)]
    t = _table(tmp_path, "sums", block(0))
    errors: list[Exception] = []
    reads: list[dict] = []
    appending, merged = threading.Event(), threading.Event()
    appending.set()

    def appender():
        try:
            for b in range(1, n_blocks):
                # a merge publishes between consecutive appends, so merges
                # run against a growing table and each loses at most one
                # commit race (optimize retries 5 times)
                merged.wait(timeout=120)
                merged.clear()
                t.append(block(b))
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            appending.clear()

    def reader():
        try:
            while appending.is_set() or len(reads) < 2:
                df = t.read(spark).groupBy("k").agg(F.sum("v").alias("v"))
                reads.append({r["k"]: r["v"] for r in df.collect()})
        except Exception as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    threads = [threading.Thread(target=appender), threading.Thread(target=reader)]
    for th in threads:
        th.start()
    merges = 0
    while appending.is_set():
        compact_summing(spark, t, keys=["k"], agg_exprs={"v": F.sum("v")})
        merges += 1
        merged.set()
    for th in threads:
        th.join(timeout=300)
        assert not th.is_alive()
    assert not errors, errors
    assert merges >= n_blocks - 1
    assert reads and all(r in prefixes for r in reads), reads

    compact_summing(spark, t, keys=["k"], agg_exprs={"v": F.sum("v")})
    final = t.read(spark)
    assert final.count() == len(keys)  # one merged row per key
    assert {r["k"]: r["v"] for r in final.collect()} == prefixes[-1]
