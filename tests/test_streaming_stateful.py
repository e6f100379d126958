"""Watermarked / custom-state streaming operators vs their batch truths."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from apache_kafka_clickhouse_demo_spark.sources.tables import load_table
from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
    running_totals,
    streaming_dedup,
    windowed_counts,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Typed events parquet, 4 files so file-stream runs several batches."""
    root = str(tmp_path_factory.mktemp("events_parquet"))
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(root)
    return root


def _stream(spark, events_dir, per_trigger=1):
    schema = spark.read.parquet(events_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", per_trigger)
        .parquet(events_dir)
    )


def _run_to_parquet(df, tmp_path, name):
    dest = str(tmp_path / name)
    q = (
        df.writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(dest)
        )
        .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return dest


def test_streaming_dedup_drops_dupes(spark, events_dir, tmp_path):
    """A doubled input stream dedups back to the distinct batch answer."""
    schema = spark.read.parquet(events_dir).schema
    doubled_dir = str(tmp_path / "doubled")
    base = spark.read.parquet(events_dir)
    base.unionAll(base).repartition(6).write.parquet(doubled_dir)

    src = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(doubled_dir)
    )
    # delay must exceed the fixture's full time span (~30 days): the files
    # arrive in arbitrary order, so a shorter watermark would legitimately
    # drop old-timestamped rows as late data rather than as duplicates
    deduped = streaming_dedup(src, keys=["event_id"], watermark_col="ts", delay="90 days")
    dest = _run_to_parquet(deduped, tmp_path, "deduped")

    got = spark.read.parquet(dest)
    assert got.count() == base.count()
    assert got.select("event_id").distinct().count() == base.count()


def test_windowed_counts_match_batch(spark, events_dir, tmp_path):
    """Append-mode watermarked windows = batch per-hour counts for every
    window the watermark closed (all but the stream's last hour)."""
    wc = windowed_counts(
        _stream(spark, events_dir, per_trigger=2),
        ts_col="ts",
        window="1 hour",
        keys=("event_type",),
        delay="1 minute",
    )
    dest = str(tmp_path / "wc")
    q = (
        wc.writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", str(tmp_path / "wc_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(dest).collect()
    }
    batch = {
        (r["h"], r["event_type"]): r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got, "no closed windows emitted"
    # every emitted window must match the batch truth exactly
    for k, v in got.items():
        assert batch[k] == v, k
    # and only the tail (still-open windows at end of stream) may be missing
    missing = set(batch) - set(got)
    if missing:
        max_emitted = max(k[0] for k in got)
        assert all(k[0] >= max_emitted for k in missing)


def test_running_totals_final_state_matches_batch(spark, events_dir, tmp_path):
    """applyInPandasWithState: the LAST update per user equals the batch
    aggregate over all events."""
    src = _stream(spark, events_dir, per_trigger=1).select("user_id", "value", "ts")
    dest = str(tmp_path / "rt")

    def sink(batch, batch_id):
        batch.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(dest)

    q = (
        running_totals(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "rt_ck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    from pyspark.sql import Window as W

    updates = spark.read.parquet(dest)
    w = W.partitionBy("user_id").orderBy(F.col("batch_id").desc())
    final = (
        updates.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "n_events", "total_value")
    )
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    f = {r["user_id"]: (r["n_events"], r["total_value"]) for r in final.collect()}
    b = {r["user_id"]: (r["n_events"], r["total_value"]) for r in batch.collect()}
    assert f.keys() == b.keys()
    for k in b:
        assert f[k][0] == b[k][0]
        assert f[k][1] == pytest.approx(b[k][1], rel=1e-9)


def test_minhash_dedup_stream_suppresses_across_blocks(spark, tmp_path):
    """Cross-block semantics: a near-duplicate arriving in a LATER block is
    dropped against the store, and a DROPPED document's signature still
    suppresses further copies of its cluster (the store keeps every seen
    doc, not just survivors)."""
    import time as _time

    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_dedup_stream,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    blocks = [
        [(1, base), (2, "totally different words entirely here now")],
        [(3, base + " iota")],   # near-dup of 1 -> dropped
        [(4, base + " kappa")],  # near-dup of 1 AND of dropped 3 -> dropped
    ]
    from apache_kafka_clickhouse_demo_spark.queries import _stamp_feed_block

    feed = str(tmp_path / "feed")
    tbase = _time.time()
    stamped: set = set()
    for i, rows in enumerate(blocks):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        _stamp_feed_block(feed, stamped, i, tbase)

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    q = minhash_dedup_stream(
        spark,
        src,
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        checkpoint=str(tmp_path / "ck"),
        num_perm=12,
        bands=4,
        shingle_n=3,
        threshold=0.5,
    )
    q.processAllAvailable()
    q.stop()

    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    )
    assert kept == [1, 2]
    # the store remembers every seen doc, survivors and dropped alike
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

    store = TransactionalTable(str(tmp_path / "store" / "store"))
    store_ids = sorted(
        r["id"] for r in store.read(spark).filter("shard LIKE 'p%'").collect()
    )
    assert store_ids == [1, 2, 3, 4]


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _distinct_texts(n, tag):
    import itertools

    words = ["red", "blue", "oak", "elm", "fox", "owl", "sun", "sea", "sky", "ash"]
    out = []
    for i, combo in zip(range(n), itertools.permutations(words, 6)):
        out.append(f"{tag} {' '.join(combo)} marker{i} token{i * 7} item{i * 13}")
    return out


def test_per_block_store_scan_reads_only_colliding_shards(spark, tmp_path, monkeypatch):
    """VERDICT r5 #1 — the files-read assert: a block's store read must
    touch ONLY the band shards its own band keys hash into (and only the
    payload shards of candidate ids), not the whole store.  Verified by
    spying on `TransactionalTable.read_where` during a real
    `writer.process` call and checking the resulting scans' inputFiles."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    writer = minhash_stream_writer(
        spark,
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        num_perm=12,
        bands=4,
        shingle_n=3,
        threshold=0.5,
        band_shards=16,
        id_shards=8,
    )
    # seed the store with enough distinct docs to populate many band shards
    texts = _distinct_texts(40, "seed")
    writer.process(_docs_df(spark, list(enumerate(texts))), 0)
    store_files = set(
        TransactionalTable(str(tmp_path / "store" / "store")).data_files()
    )
    bands_files = {f for f in store_files if "/shard=b" in f}
    shards_on_disk = {f.split("shard=")[1].split("/")[0] for f in bands_files}
    assert len(shards_on_disk) > 4, "fixture too small to demonstrate pruning"

    calls = []
    orig = TransactionalTable.read_where

    def spy(self, spark_, col, values, version=None):
        df = orig(self, spark_, col, values, version)
        calls.append((self.path, col, sorted(values), df))
        return df

    monkeypatch.setattr(TransactionalTable, "read_where", spy)
    # one new doc: a near-dup of seed doc 3 — must still be caught
    writer.process(_docs_df(spark, [(1000, texts[3] + " extra")]), 1)

    band_calls = [
        c for c in calls if c[1] == "shard" and all(v.startswith("b") for v in c[2])
    ]
    assert len(band_calls) == 1
    _path, col, shards, pruned_df = band_calls[0]
    assert col == "shard" and 0 < len(shards) <= 4  # one doc -> <= 4 band keys
    from urllib.parse import urlparse

    touched = {urlparse(f).path for f in pruned_df.inputFiles()}
    # ONLY files under the block's own shard dirs, a strict store subset
    assert touched and touched < set(bands_files)
    for f in touched:
        assert any(f"shard={s}/" in f for s in shards), f
    # and the pruned scan still caught the near-duplicate
    kept = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()}
    assert 1000 not in kept and 3 in kept


def test_stream_writer_retry_is_idempotent(spark, tmp_path):
    """VERDICT r5 #3 — foreachBatch is at-least-once: re-running a batch
    (simulated retry after a crash) must leave output, band store, and
    payload store byte-identical, not duplicated."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    writer = minhash_stream_writer(
        spark,
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        threshold=0.5,
    )
    texts = _distinct_texts(6, "base")
    writer.process(_docs_df(spark, list(enumerate(texts))), 0)
    writer.process(_docs_df(spark, [(100, texts[0] + " tail"), (101, "novel words only here")]), 1)

    out = TransactionalTable(str(tmp_path / "kept"))
    store = TransactionalTable(str(tmp_path / "store" / "store"))
    before = (
        sorted(r["doc_id"] for r in out.read(spark).collect()),
        out.version(),
        store.version(),
        sorted(store.data_files()),
    )

    # the retry: same block, same batch id — e.g. restart after a crash
    # between the store append and the output append
    writer.process(_docs_df(spark, [(100, texts[0] + " tail"), (101, "novel words only here")]), 1)

    after = (
        sorted(r["doc_id"] for r in out.read(spark).collect()),
        out.version(),
        store.version(),
        sorted(store.data_files()),
    )
    assert before == after
    assert 101 in after[0] and 100 not in after[0]


def test_corrupt_store_fails_batch_instead_of_deduping_against_nothing(
    spark, tmp_path
):
    """VERDICT r5 'what's wrong': only a NEVER-COMMITTED store may be
    treated as empty.  A committed store whose data file vanished mid-
    stream must raise — the r5 form's `except Exception` silently admitted
    duplicates here."""
    import os

    import pytest as _pytest

    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    writer = minhash_stream_writer(
        spark, out_dir=str(tmp_path / "kept"), store_dir=str(tmp_path / "store")
    )
    writer.process(_docs_df(spark, [(1, "alpha beta gamma delta epsilon zeta")]), 0)

    store = TransactionalTable(str(tmp_path / "store" / "store"))
    for f in store.data_files():
        if "/shard=b" in f:  # vanish the band rows' committed files
            os.remove(f)
    with _pytest.raises(Exception) as ei:
        # identical text -> identical band keys -> the pruned read MUST
        # hit the vanished file's shard
        writer.process(_docs_df(spark, [(2, "alpha beta gamma delta epsilon zeta")]), 1)
    assert not isinstance(ei.value, FileNotFoundError)


def test_streaming_sessions_match_batch_gap_sessionization(spark, tmp_path):
    """Native session_window streaming sessions == the batch lag+running-sum
    gap sessions for the same rows: same session count per user, same
    (n_events, duration) multiset.  A far-future flush event drives the
    watermark past every real session so append mode emits them all."""
    from pyspark.sql import Window as W

    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        streaming_sessions,
    )

    base = 1_700_000_000_000  # ms
    mins = lambda m: base + m * 60_000  # noqa: E731
    rows = [
        # user 1: two sessions (gap 31min splits), first has 3 events
        (1, mins(0)), (1, mins(10)), (1, mins(20)), (1, mins(51)),
        # user 2: one session of 2 events
        (2, mins(5)), (2, mins(25)),
        # flush: far-future dummy advances the watermark past everything
        (99, mins(60 * 24 * 30)),
    ]
    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, ts_ms long"
    ).select("user_id", F.timestamp_millis("ts_ms").alias("ts")).coalesce(1).write.parquet(feed)

    src = spark.readStream.schema("user_id long, ts timestamp").parquet(feed)
    q = (
        streaming_sessions(src, gap="30 minutes", delay="1 minute")
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["user_id"], r["n_events"], r["duration_ms"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
        if r["user_id"] != 99
    }

    # batch twin: identical gap rule over the same rows
    w = W.partitionBy("user_id").orderBy("ts")
    ev = spark.read.parquet(feed).filter(F.col("user_id") != 99)
    gap_ms = F.unix_millis("ts") - F.unix_millis(F.lag("ts").over(w))
    sessions = ev.withColumn(
        "is_new", F.when(gap_ms.isNull() | (gap_ms > 30 * 60 * 1000), 1).otherwise(0)
    ).withColumn("sid", F.sum("is_new").over(w))
    want = {
        (r["user_id"], r["n"], r["d"])
        for r in sessions.groupBy("user_id", "sid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.unix_millis(F.max("ts")) - F.unix_millis(F.min("ts"))).alias("d"),
        )
        .collect()
    }
    assert got == want and len(got) == 3


def test_compact_every_keeps_decisions_and_bounds_store_files(spark, tmp_path):
    """Periodic store maintenance (compact_every) must not change any
    dedup decision, and must collapse each store shard back to ONE file
    (the read_where cost bound for a forever-running stream)."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    texts = _distinct_texts(30, "cmp")
    blocks = [
        list(enumerate(texts[:10])),
        [(100, texts[3] + " extra")] + list(enumerate(texts[10:20], start=10)),
        [(200, texts[14] + " extra")] + list(enumerate(texts[20:30], start=20)),
        [(300, texts[3] + " also")],
    ]

    kept = {}
    for label, every in (("off", None), ("on", 1)):
        w = minhash_stream_writer(
            spark,
            out_dir=str(tmp_path / label / "kept"),
            store_dir=str(tmp_path / label / "store"),
            num_perm=12,
            bands=4,
            shingle_n=3,
            threshold=0.5,
            compact_every=every,
        )
        for i, rows in enumerate(blocks):
            w.process(_docs_df(spark, rows), i)
        kept[label] = sorted(
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / label / "kept")).collect()
        )
    assert kept["on"] == kept["off"]
    assert 100 not in kept["on"] and 200 not in kept["on"] and 300 not in kept["on"]

    # after the final maintain, every store shard dir (band AND payload
    # kinds) holds exactly 1 file
    files = TransactionalTable(str(tmp_path / "on" / "store" / "store")).data_files()
    by_shard: dict[str, int] = {}
    for f in files:
        shard = f.split("shard=")[1].split("/")[0]
        by_shard[shard] = by_shard.get(shard, 0) + 1
    assert by_shard and all(n == 1 for n in by_shard.values()), by_shard
    assert any(s.startswith("b") for s in by_shard) and any(
        s.startswith("p") for s in by_shard
    )
    # and the uncompacted twin really had more files (the thing bounded)
    files_off = TransactionalTable(
        str(tmp_path / "off" / "store" / "store")
    ).data_files()
    assert len(files_off) > len(files)


def test_batch_replay_after_maintenance_is_still_idempotent(spark, tmp_path):
    """The exactly-once guarantee must survive store maintenance: optimize
    publishes a replace-commit, but the old batches' txn ids stay in the
    log, so a post-restart replay of an already-committed batch is still
    a no-op — not a duplicate append into the compacted store."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    texts = _distinct_texts(20, "rep")
    w = minhash_stream_writer(
        spark,
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        num_perm=12,
        bands=4,
        shingle_n=3,
        threshold=0.5,
        compact_every=1,  # maintenance after EVERY batch
    )
    blocks = [
        list(enumerate(texts[:10])),
        list(enumerate(texts[10:20], start=10)),
    ]
    for i, rows in enumerate(blocks):
        w.process(_docs_df(spark, rows), i)

    def snapshot():
        # read through the writer's own kind-filtered helpers so their
        # shard-namespace encoding stays pinned against the write path
        out = sorted(
            r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()
        )
        bands = sorted(map(tuple, w.read_store_bands().collect()))
        pays = sorted(
            (r["id"], tuple(r["payload"] or ()))
            for r in w.read_store_payloads().collect()
        )
        return (out, bands, pays)

    before = snapshot()
    # post-restart replay of batch 0 (foreachBatch redelivers it)
    w.process(_docs_df(spark, blocks[0]), 0)
    assert snapshot() == before


def test_out_table_consumer_compaction_preserves_survivors(spark, tmp_path):
    """The survivors table accumulates one commit per batch by design
    (maintain() deliberately leaves it alone); the consumer compacts it
    like any streaming MV destination — and that rewrite must change the
    file count, not the answer."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    texts = _distinct_texts(24, "outc")
    w = minhash_stream_writer(
        spark,
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        num_perm=12,
        bands=4,
        shingle_n=3,
        threshold=0.5,
    )
    for i in range(4):
        w.process(_docs_df(spark, list(enumerate(texts[i * 6 : (i + 1) * 6], start=i * 6))), i)

    out = TransactionalTable(str(tmp_path / "kept"))
    before_rows = sorted(r["doc_id"] for r in out.read(spark).collect())
    files_before = len(out.data_files())
    assert files_before > 4  # one commit (several files) per batch

    out.optimize(spark, target_files=2)
    assert len(out.data_files()) == 2
    assert sorted(r["doc_id"] for r in out.read(spark).collect()) == before_rows


def test_new_stream_run_over_existing_store_is_not_swallowed(spark, tmp_path):
    """A NEW stream (fresh checkpoint -> batch ids restart at 0) pointed
    at an existing durable store must process its batches, not skip them
    as replays — txn ids are writer-scoped, not bare batch ids."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    texts = _distinct_texts(12, "wid")
    common = dict(
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        num_perm=12,
        bands=4,
        shingle_n=3,
        threshold=0.5,
    )
    run1 = minhash_stream_writer(spark, writer_id="ck-run1", **common)
    run1.process(_docs_df(spark, list(enumerate(texts[:6]))), 0)

    # second run: batch id 0 again, DIFFERENT writer id, new docs
    run2 = minhash_stream_writer(spark, writer_id="ck-run2", **common)
    run2.process(_docs_df(spark, list(enumerate(texts[6:12], start=6))), 0)

    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    )
    assert kept == list(range(12))  # nothing swallowed, nothing duplicated
    # and a genuine replay within run2 is still a no-op
    run2.process(_docs_df(spark, list(enumerate(texts[6:12], start=6))), 0)
    kept2 = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    )
    assert kept2 == kept


def test_running_funnel_final_depths_match_batch(spark, sf_dir, tmp_path):
    """Streaming windowFunnel: after draining a ts-ordered feed, each key's
    LAST emitted depth equals the batch fold's level (the in-order contract
    the operator documents)."""
    import time as _time

    from pyspark.sql import Window as W

    from apache_kafka_clickhouse_demo_spark.operators import funnel as BF
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import running_funnel

    events = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / 4
    from apache_kafka_clickhouse_demo_spark.queries import _stamp_feed_block

    feed = str(tmp_path / "feed")
    prev = None
    tbase = _time.time()
    stamped: set = set()
    for i in range(4):  # sequential ts-ordered blocks; stamped mtime = arrival order
        upper = lo + span * (i + 1) if i < 3 else hi
        blk = events.filter(
            (F.col("ts") <= F.lit(upper))
            & (F.col("ts") > F.lit(prev) if prev is not None else F.lit(True))
        )
        blk.coalesce(1).write.mode("append").parquet(feed)
        _stamp_feed_block(feed, stamped, i, tbase)
        prev = upper

    steps = lambda: [F.col("event_type") == s for s in ("view", "click", "purchase")]  # noqa: E731
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    dest = str(tmp_path / "out")
    q = (
        running_funnel(src, "user_id", "ts", steps(), 21600)
        .writeStream.foreachBatch(
            lambda b, i: b.withColumn("batch_id", F.lit(i))
            .write.mode("append")
            .parquet(dest)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    w = W.partitionBy("k").orderBy(F.col("batch_id").desc())
    final = (
        spark.read.parquet(dest)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1 AND funnel_level >= 1")
    )
    got = {r["k"]: r["funnel_level"] for r in final.collect()}
    expect = {
        r["k"]: r["funnel_level"]
        for r in BF.window_funnel(events, "user_id", "ts", steps(), 21600).collect()
    }
    assert got == expect


def test_heavy_hitters_stream_matches_batch_and_replays_idempotently(
    spark, events_dir, tmp_path
):
    """Streaming topK: after draining the feed the stored summary answers
    exactly the batch sketch's top-k (exact regime); a replayed batch and a
    mid-stream maintenance fold change nothing."""
    from apache_kafka_clickhouse_demo_spark.operators.sketches import (
        heavy_hitters_topk,
    )
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        heavy_hitters_stream,
        topk_stream_writer,
    )

    src = _stream(spark, events_dir, per_trigger=1).select("user_id")
    store = str(tmp_path / "hh_store")
    ck = str(tmp_path / "hh_ck")
    q = heavy_hitters_stream(
        spark, src, store, ck, "user_id", capacity=1 << 12, compact_every=2
    )
    q.processAllAvailable()
    q.stop()

    writer = topk_stream_writer(spark, store, "user_id", capacity=1 << 12, writer_id=ck)
    got = [tuple(r) for r in writer.topk(5).collect()]
    expect = [
        tuple(r)
        for r in heavy_hitters_topk(
            spark.read.parquet(events_dir), "user_id", 5, capacity=1 << 12
        ).collect()
    ]
    assert got == expect
    assert all(lb == ub for _v, lb, ub in got)  # exact regime certified

    # replay of an already-committed batch id: store unchanged
    block = spark.read.parquet(events_dir).select("user_id").limit(50)
    writer.process(block, 0)
    assert [tuple(r) for r in writer.topk(5).collect()] == expect

    # maintenance retention-rewrite: answers unchanged, store folded small
    writer.maintain()
    assert [tuple(r) for r in writer.topk(5).collect()] == expect

    # wide-block pre-reduce forced on every block (two tasks each, the
    # same user in both): the summary must equal the unforced drain's
    forced = topk_stream_writer(
        spark, str(tmp_path / "hh_forced"), "user_id", capacity=1 << 12,
        writer_id="forced",
    )
    forced.DRIVER_MERGE_MAX_TASKS = 1
    files = sorted(str(p) for p in Path(events_dir).glob("*.parquet"))
    for i, f in enumerate(files):
        forced.process(spark.read.parquet(f).select("user_id").repartition(2), i)
    assert [tuple(r) for r in forced.topk(5).collect()] == got


def test_weighted_topk_stream_matches_batch_and_replays_idempotently(
    spark, events_dir, tmp_path
):
    """Streaming topKWeighted (heavy_hitters_stream with weight_col):
    the drained store answers exactly the batch WEIGHTED sketch in the
    exact regime; a replayed batch changes nothing."""
    from pyspark.sql import functions as F

    from apache_kafka_clickhouse_demo_spark.operators.sketches import (
        heavy_hitters_topk_weighted,
    )
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        heavy_hitters_stream,
        topk_stream_writer,
    )

    cents = F.round(F.col("value") * 100).cast("long")
    src = _stream(spark, events_dir, per_trigger=1).select(
        "user_id", cents.alias("w")
    )
    store = str(tmp_path / "hhw_store")
    ck = str(tmp_path / "hhw_ck")
    q = heavy_hitters_stream(
        spark, src, store, ck, "user_id", capacity=1 << 12, compact_every=2,
        weight_col="w",
    )
    q.processAllAvailable()
    q.stop()

    writer = topk_stream_writer(
        spark, store, "user_id", capacity=1 << 12, writer_id=ck, weight_col="w"
    )
    got = [tuple(r) for r in writer.topk(5).collect()]
    expect = [
        tuple(r)
        for r in heavy_hitters_topk_weighted(
            spark.read.parquet(events_dir), "user_id", cents, 5, capacity=1 << 12
        ).collect()
    ]
    assert got == expect
    assert all(lb == ub for _v, lb, ub in got)  # exact regime certified

    # replay of an already-committed batch id: store unchanged
    block = (
        spark.read.parquet(events_dir)
        .select("user_id", cents.alias("w"))
        .limit(50)
    )
    writer.process(block, 0)
    assert [tuple(r) for r in writer.topk(5).collect()] == expect


def test_topk_stream_new_run_over_existing_store_not_lost(spark, tmp_path):
    """A NEW stream run (fresh writer id, batch ids restarting at 0) over an
    existing summary store must land ABOVE the stored generations — batch-id
    generation numbering would leave _latest() serving the old run and
    silently drop the new run's counts (code-review mid-r6)."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        topk_stream_writer,
    )

    store = str(tmp_path / "gen_store")
    w1 = topk_stream_writer(spark, store, "v", capacity=64, writer_id="run1")
    w1.process(spark.createDataFrame([("a",)] * 3 + [("b",)], "v string"), 0)
    w1.process(spark.createDataFrame([("a",)] * 2, "v string"), 1)

    w2 = topk_stream_writer(spark, store, "v", capacity=64, writer_id="run2")
    w2.process(spark.createDataFrame([("b",)] * 4, "v string"), 0)

    got = {r["value"]: r["count_lb"] for r in w2.topk(5).collect()}
    assert got == {"a": 5, "b": 5}


def test_topk_concurrent_writer_race_rejected_not_double_counted(spark, tmp_path):
    """ADVICE r6: the single-live-writer contract is a CAS, not a comment.
    Two writers racing the same parent generation: exactly one commits;
    the loser raises ConcurrentWriteError and the store never holds two
    same-generation summaries to double-count."""
    import pytest as _pytest

    from apache_kafka_clickhouse_demo_spark.sources.txlog import (
        ConcurrentWriteError,
        TransactionalTable,
    )
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        topk_stream_writer,
    )

    store = str(tmp_path / "race_store")
    w1 = topk_stream_writer(spark, store, "v", capacity=64, writer_id="w1")
    w1.process(spark.createDataFrame([("a",)] * 3, "v string"), 0)

    w2 = topk_stream_writer(spark, store, "v", capacity=64, writer_id="w2")
    # simulate the race: w2 reads the same snapshot w1 is about to advance
    orig_latest = type(w2)._latest

    def stale_latest(self):
        prev, gen, snap_v = orig_latest(self)
        # w1 commits AFTER our read but BEFORE our publish
        w1.process(spark.createDataFrame([("a",)] * 2, "v string"), 1)
        return prev, gen, snap_v

    w2._latest = stale_latest.__get__(w2)
    with _pytest.raises(ConcurrentWriteError):
        w2.process(spark.createDataFrame([("b",)] * 4, "v string"), 0)

    # w1's interleaved commit is the surviving generation; no merged
    # double-generation rows, and no trace of w2's rejected summary
    stored = TransactionalTable(store).read(spark)
    gens = sorted({r["gen"] for r in stored.select("gen").distinct().collect()})
    assert gens == [0, 1]
    got = {r["value"]: r["count_lb"] for r in w1.topk(5).collect()}
    assert got == {"a": 5}


def test_stream_interval_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join == the batch range join for the same
    rows: every (click, purchase-within-1h) pair for the same user, each
    emitted exactly once.  A far-future flush event on both feeds drives
    the watermarks past every real match so append mode releases them."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        stream_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"),
        F.col("event_id").alias("cid"),
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("bts"),
        F.col("event_id").alias("bid"),
    )
    flush_c = spark.createDataFrame([(-1, "2099-01-01 00:00:00", -1)],
                                    "cu long, s string, cid long"
    ).select("cu", F.col("s").cast("timestamp").alias("cts"), "cid")
    flush_b = spark.createDataFrame([(-1, "2099-01-01 00:00:00", -1)],
                                    "bu long, s string, bid long"
    ).select("bu", F.col("s").cast("timestamp").alias("bts"), "bid")

    cdir, bdir = str(tmp_path / "c"), str(tmp_path / "b")
    clicks.unionByName(flush_c).repartition(2).write.parquet(cdir)
    buys.unionByName(flush_b).repartition(2).write.parquet(bdir)

    sc = spark.readStream.schema(clicks.schema).parquet(cdir)
    sb = spark.readStream.schema(buys.schema).parquet(bdir)
    out = str(tmp_path / "out")
    q = (
        stream_interval_join(sc, sb, "cu", "bu", "cts", "bts", upper="1 hour")
        .writeStream.foreachBatch(
            lambda b, _i: b.write.mode("append").parquet(out)
        )
        .option("checkpointLocation", str(tmp_path / "ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        (r["cid"], r["bid"]) for r in spark.read.parquet(out).collect()
        if r["cid"] != -1 and r["bid"] != -1
    )
    want = sorted(
        (r["cid"], r["bid"])
        for r in clicks.join(
            buys,
            (F.col("cu") == F.col("bu"))
            & (F.col("bts") >= F.col("cts"))
            & (F.col("bts") <= F.expr("cts + INTERVAL 1 hour")),
        ).collect()
    )
    assert got == want and len(want) > 0


def test_topk_stream_trimmed_regime_keeps_bounds(spark, tmp_path):
    """Streaming Misra-Gries under a TINY capacity: the dominant value
    survives the whole drain and its true count stays inside
    [count_lb, count_ub] — the mergeable-summaries bound across batches,
    not just within one."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        topk_stream_writer,
    )

    w = topk_stream_writer(spark, str(tmp_path / "s"), "v", capacity=4, writer_id="t")
    true_hot = 0
    for i in range(3):
        rows = [("hot",)] * 50 + [(f"tail{i}_{j}",) for j in range(20)]
        true_hot += 50
        w.process(spark.createDataFrame(rows, "v string"), i)
    out = {r["value"]: r for r in w.topk(3).collect()}
    assert "hot" in out
    hot = out["hot"]
    assert hot["count_lb"] <= true_hot <= hot["count_ub"]
    # global MG bound: undercount <= n / (capacity + 1)
    assert true_hot - hot["count_lb"] <= 210 // 5


def test_reservoir_stream_matches_batch_and_replays_idempotently(spark, tmp_path):
    """Streaming bottom-k-by-hash sample == the batch statement of the same
    sketch over all blocks; a replayed batch id leaves the store unchanged."""
    from apache_kafka_clickhouse_demo_spark.functions import hashing as H
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        reservoir_stream_writer,
    )

    rows = [(i, f"u{i % 7}") for i in range(300)]
    df = spark.createDataFrame(rows, "event_id long, tag string")
    w = reservoir_stream_writer(
        spark, str(tmp_path / "store"), "event_id", k=25,
        payload_cols=["tag"], writer_id="r1",
    )
    blocks = [df.filter((F.col("event_id") >= i * 100) & (F.col("event_id") < (i + 1) * 100)) for i in range(3)]
    for i, b in enumerate(blocks):
        w.process(b, i)

    expect = {
        (r["event_id"], r["tag"])
        for r in df.withColumn(
            "rank", H.h48(F.concat(F.lit("sample:"), F.col("event_id").cast("string")))
        ).orderBy("rank", "event_id").limit(25).collect()
    }
    got = {(r["event_id"], r["tag"]) for r in w.sample().collect()}
    assert got == expect and len(got) == 25

    # replay of an already-committed batch: store byte-stable
    v_before = w.store.version()
    w.process(blocks[1], 1)
    assert w.store.version() == v_before
    assert {(r["event_id"], r["tag"]) for r in w.sample().collect()} == expect

    # maintenance folds generations without changing the answer
    w.maintain()
    assert {(r["event_id"], r["tag"]) for r in w.sample().collect()} == expect


def test_stratified_reservoir_matches_batch_quota_per_group(spark, tmp_path):
    """r13 stratified form: per-group bottom-k accumulates across blocks
    into the batch `stratified_sample` answer VERBATIM (same salt, same
    (hash, id) rank rule, strat_rank included), small groups keep all
    their rows, and replay is a no-op."""
    from apache_kafka_clickhouse_demo_spark.operators.sampling import (
        stratified_sample,
    )
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        reservoir_stream_writer,
    )

    rows = [(i, f"s{i % 4}") for i in range(200)] + [(900, "rare")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = reservoir_stream_writer(
        spark, str(tmp_path / "strat_store"), "doc_id", k=5,
        writer_id="r1", salt="strat:", group_col="source",
    )
    blocks = [
        df.filter(F.pmod(F.col("doc_id"), F.lit(3)) == i) for i in range(3)
    ]
    for i, b in enumerate(blocks):
        w.process(b, i)

    want = {
        (r["source"], r["doc_id"], r["strat_rank"])
        for r in stratified_sample(
            df, group_col="source", n_per_group=5, id_col="doc_id",
            salt="strat:",
        ).collect()
    }
    got = {
        (r["source"], r["doc_id"], r["strat_rank"])
        for r in w.stratified().collect()
    }
    assert got == want
    assert sum(1 for g, _i, _r in got if g == "rare") == 1  # quota, not pad

    v = w.store.version()
    w.process(blocks[2], 2)  # replay: no-op
    assert w.store.version() == v


def test_reservoir_new_run_handover_and_duplicate_ids(spark, tmp_path):
    """A new stream run (fresh writer id, batch ids restart) continues the
    SAME sample above the stored generations, and re-seen ids (at-least-
    once overlap) dedup exactly — same id, same rank."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        reservoir_stream_writer,
    )

    df1 = spark.createDataFrame([(i, "a") for i in range(100)], "event_id long, tag string")
    store = str(tmp_path / "store")
    w1 = reservoir_stream_writer(spark, store, "event_id", k=10, payload_cols=["tag"], writer_id="r1")
    w1.process(df1, 0)
    s1 = {r["event_id"] for r in w1.sample().collect()}

    # run 2 re-delivers half of run 1's rows plus new ones
    df2 = spark.createDataFrame(
        [(i, "a") for i in range(50, 200)], "event_id long, tag string"
    )
    w2 = reservoir_stream_writer(spark, store, "event_id", k=10, payload_cols=["tag"], writer_id="r2")
    w2.process(df2, 0)
    got = [r["event_id"] for r in w2.sample().collect()]
    assert len(got) == len(set(got)) == 10  # no duplicate ids in the sample
    # the merged sample is the bottom-10 over the union of everything seen
    from apache_kafka_clickhouse_demo_spark.functions import hashing as H

    union = df1.unionByName(df2).dropDuplicates(["event_id"])
    expect = {
        r["event_id"]
        for r in union.withColumn(
            "rank", H.h48(F.concat(F.lit("sample:"), F.col("event_id").cast("string")))
        ).orderBy("rank", "event_id").limit(10).collect()
    }
    assert set(got) == expect
    assert s1  # run 1 produced a sample (sanity)


def test_reservoir_in_block_duplicates_cannot_displace_new_ids(spark, tmp_path):
    """Review r7: duplicate rows of ONE id inside a single micro-batch
    (at-least-once overlap) must not each occupy a bottom-k slot.  Feed a
    block holding k copies of one id plus every other id once — the
    sample must equal the batch bottom-k over DISTINCT ids, even when the
    duplicated id's rank would let its copies crowd out the rest."""
    from apache_kafka_clickhouse_demo_spark.functions import hashing as H
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        reservoir_stream_writer,
    )

    k = 5
    ids = list(range(30))
    base = spark.createDataFrame([(i, "t") for i in ids], "event_id long, tag string")
    rank_col = H.h48(F.concat(F.lit("sample:"), F.col("event_id").cast("string")))
    # the id with the SMALLEST rank duplicated k times: pre-fix, its k
    # copies filled the whole block trim and legitimate bottom-k ids lost
    min_id = base.withColumn("rank", rank_col).orderBy("rank").first()["event_id"]
    rows = [(i, "t") for i in ids] + [(min_id, "t")] * k
    blk = spark.createDataFrame(rows, "event_id long, tag string")
    w = reservoir_stream_writer(
        spark, str(tmp_path / "store"), "event_id", k=k, payload_cols=["tag"]
    )
    w.process(blk, 0)
    got = sorted(r["event_id"] for r in w.sample().collect())

    expect = sorted(
        r["event_id"]
        for r in blk.dropDuplicates(["event_id"])
        .withColumn(
            "rank",
            H.h48(F.concat(F.lit("sample:"), F.col("event_id").cast("string"))),
        )
        .orderBy("rank", "event_id")
        .limit(k)
        .collect()
    )
    assert got == expect


def test_cas_loser_files_are_reclaimed_immediately(spark, tmp_path):
    """Review r7: a ConcurrentWriteError must not leave the loser's staged
    block on disk until vacuum's grace window — the moved-but-uncommitted
    files are deleted in the failure path itself."""
    import os as _os

    import pytest as _pytest

    from apache_kafka_clickhouse_demo_spark.sources.txlog import (
        ConcurrentWriteError,
        TransactionalTable,
    )

    t = TransactionalTable(str(tmp_path / "cas_tbl"))
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    v0 = t.append(df)
    committed = set(t.data_files())

    with _pytest.raises(ConcurrentWriteError):
        # stale CAS: claims the version that v0 already took
        t.append(spark.createDataFrame([(2, "b")], "id long, v string"),
                 cas_version=v0 - 1)

    on_disk = {
        _os.path.join(dp, f)
        for dp, _dn, fn in _os.walk(t.path)
        for f in fn
        if f.endswith(".parquet")
    }
    assert on_disk == committed  # no orphaned loser files


def test_shards_for_store_sizing_rule():
    """shards_for_store (VERDICT r8 #5): monotone in expected rows, power
    of two, floored at the test default 16, capped at 2^20, and hits the
    documented 100 TB design point (4e11 band rows -> 131072 shards)."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        SHARD_TARGET_ROWS,
        shards_for_store,
    )

    assert shards_for_store(0) == 16
    assert shards_for_store(16 * SHARD_TARGET_ROWS) == 16  # exactly full
    assert shards_for_store(16 * SHARD_TARGET_ROWS + 1) == 32
    assert shards_for_store(int(4e11)) == 131072
    assert shards_for_store(10**18) == 1 << 20  # cap
    prev = 0
    for exp in range(6, 15):
        n = shards_for_store(10**exp)
        assert n >= prev and (n & (n - 1)) == 0 and 16 <= n <= (1 << 20)
        prev = n
        # the rule's invariant: rows per shard bounded (unless capped)
        if n < (1 << 20):
            assert 10**exp <= n * SHARD_TARGET_ROWS


def test_expected_corpus_rows_sizes_writer_shards(spark, tmp_path):
    """The stream entry points derive band/id shard counts from the
    expected corpus: band side carries bands (resp. num_tables) rows per
    document, payload side one."""
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        SHARD_TARGET_ROWS,
        embedding_stream_writer,
        minhash_stream_writer,
        shards_for_store,
    )

    n = 40 * SHARD_TARGET_ROWS  # 160M docs
    w = minhash_stream_writer(
        spark,
        out_dir=str(tmp_path / "o1"),
        store_dir=str(tmp_path / "s1"),
        bands=4,
        expected_corpus_rows=n,
    )
    # band side: 640M rows -> 256 shards; payload side: 160M -> 64
    assert w.band_shards == shards_for_store(4 * n) == 256
    assert w.id_shards == shards_for_store(n) == 64

    we = embedding_stream_writer(
        spark,
        out_dir=str(tmp_path / "o2"),
        store_dir=str(tmp_path / "s2"),
        num_tables=8,
        expected_corpus_rows=n,
    )
    assert we.band_shards == shards_for_store(8 * n) == 512
    assert we.id_shards == 64


def test_candidate_chain_failure_joins_appender_and_retry_is_clean(
    spark, tmp_path, monkeypatch
):
    """r9 concurrent protocol: when the candidate chain fails mid-block,
    process() must JOIN the side append thread before the failure
    propagates (append_once retries of one txn must be sequential), and
    the foreachBatch retry of the same batch must produce the same final
    state a crash-free run would — no duplicate store commits for the
    txn, correct survivors."""
    from apache_kafka_clickhouse_demo_spark.sources import txlog as TX
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    writer = minhash_stream_writer(
        spark,
        out_dir=str(tmp_path / "kept"),
        store_dir=str(tmp_path / "store"),
        threshold=0.5,
    )
    texts = _distinct_texts(5, "seed")
    writer.process(_docs_df(spark, list(enumerate(texts))), 0)

    # fail the batch AFTER the append thread has started: the band-pruned
    # store read raises once, simulating a transient executor/read error
    orig = TX.TransactionalTable.read_where
    calls = {"n": 0}

    def flaky(self, spark_, col, values, version=None):
        if calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("injected transient read failure")
        return orig(self, spark_, col, values, version=version)

    monkeypatch.setattr(TX.TransactionalTable, "read_where", flaky)
    block = _docs_df(spark, [(50, texts[0] + " tail"), (51, "all novel terms")])
    with pytest.raises(RuntimeError, match="injected"):
        writer.process(block, 1)
    monkeypatch.setattr(TX.TransactionalTable, "read_where", orig)

    store = TransactionalTable(str(tmp_path / "store" / "store"))
    # the failed attempt's append thread was joined before the raise, so
    # its commit (if any) is fully published — never in-flight here
    v_failed = store.version()

    # the retry (same batch id) must no-op the store append and publish
    # the out exactly once, with the same decisions
    writer.process(block, 1)
    assert store.version() == v_failed  # no second commit for the txn
    txns = [
        t for t in store.committed_txns() if t.endswith(":1")
    ]
    assert len(txns) == 1

    out = TransactionalTable(str(tmp_path / "kept"))
    kept = sorted(r["doc_id"] for r in out.read(spark).collect())
    assert 51 in kept and 50 not in kept


def test_concurrent_writer_stale_pin_keeps_then_next_block_suppresses(
    spark, tmp_path, monkeypatch
):
    """r9 pin semantics with TWO writers sharing one store: a block whose
    pin predates a concurrent writer's commit must still run cleanly —
    it simply cannot consult rows it never saw, so an unseen near-dup is
    KEPT (the fail-safe direction) — while the writer's NEXT block, whose
    fresh pin covers everything, suppresses a further copy."""
    from apache_kafka_clickhouse_demo_spark.sources import txlog as TX
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        minhash_stream_writer,
    )

    def writer(tag):
        return minhash_stream_writer(
            spark,
            out_dir=str(tmp_path / f"kept_{tag}"),
            store_dir=str(tmp_path / "store"),  # SHARED store
            threshold=0.5,
            writer_id=tag,
        )

    w_a, w_b = writer("A"), writer("B")
    base = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    w_a.process(_docs_df(spark, [(1, base)]), 0)
    v_with_a = TransactionalTable(str(tmp_path / "store" / "store")).version()

    # B's pin is STALE: version() reports the pre-A state, as if A's
    # commit landed between B's pin capture and its band read
    orig_version = TX.TransactionalTable.version

    def stale(self):
        v = orig_version(self)
        return -1 if v == v_with_a and "store" in self.path else v

    monkeypatch.setattr(TX.TransactionalTable, "version", stale)
    w_b.process(_docs_df(spark, [(10, base + " extra")]), 0)
    monkeypatch.setattr(TX.TransactionalTable, "version", orig_version)

    kept_b = sorted(
        r["doc_id"]
        for r in TransactionalTable(str(tmp_path / "kept_B")).read(spark).collect()
    )
    assert kept_b == [10]  # unseen concurrent near-dup: kept, not dropped

    # next block, fresh pin: sees A's doc 1 AND B's doc 10 — a further
    # copy is suppressed against the shared store
    w_b.process(_docs_df(spark, [(20, base + " tail")]), 1)
    kept_b2 = sorted(
        r["doc_id"]
        for r in TransactionalTable(str(tmp_path / "kept_B")).read(spark).collect()
    )
    assert kept_b2 == [10]  # 20 dropped


def test_term_index_stream_writer_replay_is_exactly_once(spark, tmp_path):
    """_TermIndexStreamWriter: replaying a committed batch publishes
    NOTHING (a doubled meta row would corrupt every later BM25 score),
    and two distinct batches land as two segments whose meta rows sum to
    the exact corpus stats."""
    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _TermIndexStreamWriter,
    )

    w = _TermIndexStreamWriter(
        spark, str(tmp_path / "idx"), n_shards=16, writer_id="t"
    )
    b0 = spark.createDataFrame(
        [(1, "fast join"), (2, "fast hash")], "doc_id long, text string"
    )
    b1 = spark.createDataFrame([(3, "slow fast")], "doc_id long, text string")
    w.process(b0, 0)
    w.process(b0, 0)  # replay: must be a no-op
    w.process(b1, 1)
    assert w.table.version() == 1  # exactly two commits

    meta = SI.index_meta(spark, w.table).first()
    assert (meta["n_docs"], meta["tot_tokens"], meta["n_shards"]) == (3, 6, 16)
    got = {
        (r["term"], r["doc_id"]): r["tf"]
        for r in SI.term_lookup(spark, w.table, ["fast"]).collect()
    }
    assert got == {("fast", 1): 1, ("fast", 2): 1, ("fast", 3): 1}

    # maintenance compacts without changing answers
    w.maintain()
    meta2 = SI.index_meta(spark, w.table).first()
    assert tuple(meta2) == tuple(meta)


def test_term_index_stream_writer_reconciles_stored_modulus(spark, tmp_path):
    """A writer pointed at an EXISTING index adopts the index's stored
    shard modulus regardless of its constructor argument (ADVICE r10): a
    restarted stream with a different default would otherwise durably
    commit mis-routed segments, caught only by index_meta's min==max
    invariant after the corruption."""
    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _TermIndexStreamWriter,
    )

    docs = spark.createDataFrame(
        [(1, "fast join"), (2, "fast hash")], "doc_id long, text string"
    )
    SI.build_term_index(docs, str(tmp_path / "idx"), n_shards=64)

    # restart-with-wrong-default: constructor says 16, store says 64
    w = _TermIndexStreamWriter(
        spark, str(tmp_path / "idx"), n_shards=16, writer_id="t"
    )
    assert w.n_shards == 64
    w.process(
        spark.createDataFrame([(3, "slow fast")], "doc_id long, text string"), 0
    )
    meta = SI.index_meta(spark, w.table).first()
    assert (meta["n_docs"], meta["n_shards"]) == (3, 64)
    got = sorted(
        r["doc_id"]
        for r in SI.term_lookup(spark, w.table, ["fast"]).collect()
    )
    assert got == [1, 2, 3]  # segment routed by the STORED modulus


def test_term_index_stream_writer_empty_batch_publishes_nothing(spark, tmp_path):
    """An empty micro-batch is a no-op (ADVICE r10): no commit, no
    (n_docs=0, tot_tokens NULL) meta row per idle trigger."""
    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _TermIndexStreamWriter,
    )

    w = _TermIndexStreamWriter(
        spark, str(tmp_path / "idx"), n_shards=16, writer_id="t"
    )
    b0 = spark.createDataFrame([(1, "fast join")], "doc_id long, text string")
    empty = b0.filter("doc_id < 0")
    w.process(b0, 0)
    v = w.table.version()
    w.process(empty, 1)  # idle trigger: nothing published
    assert w.table.version() == v
    meta = SI.index_meta(spark, w.table).first()
    assert (meta["n_docs"], meta["tot_tokens"]) == (1, 2)


def test_query_tokenization_matches_engine_whitespace_rule(spark, tmp_path):
    """Driver-side query tokenization uses the SAME ASCII-whitespace
    class as the engine-side Java regex \\s+ (ADVICE r10): a query whose
    words are separated by a non-breaking space must reach the index as
    ONE term — exactly what TX.tokens produced for the matching document
    — not be silently cut into unmatchable halves."""
    from apache_kafka_clickhouse_demo_spark.functions import text as TXT
    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

    nb = "fast join"  # U+00A0: Java \s does NOT split this
    assert TXT.py_tokens(nb) == [nb.lower()]
    assert TXT.py_tokens(" fast \t join\r\n") == ["fast", "join"]

    docs = spark.createDataFrame([(1, nb + " x y")], "doc_id long, text string")
    # engine side: the NBSP-joined word is one token
    engine_toks = docs.select(TXT.tokens("text").alias("t")).first()["t"]
    assert engine_toks == [nb.lower(), "x", "y"]

    table = SI.build_term_index(docs, str(tmp_path / "idx"), n_shards=16)
    hits = SI.bm25_lookup(spark, table, [(0, nb)], k=5).collect()
    assert [r["doc_id"] for r in hits] == [1]


def test_ann_index_stream_writer_founds_then_extends(spark, tmp_path):
    """_AnnIndexStreamWriter: block 0 founds the index (centroids from
    it, modulus stored), later blocks extend against those FIXED
    centroids; replays and empty batches publish nothing; a writer
    pointed at an EXISTING index extends instead of re-founding."""
    import random

    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _AnnIndexStreamWriter,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    w = _AnnIndexStreamWriter(
        spark, str(tmp_path / "ann"), writer_id="s", target_centroids=6
    )
    b0 = emb.filter(F.col("vec_id") < 20)
    b1 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 25))
    w.process(b0, 0)
    cents_after_found = sorted(
        r["cent_id"]
        for r in w.table.read_where(spark, "shard", ["cent"]).collect()
    )
    w.process(b0, 0)  # committed replay: no-op
    w.process(b0.filter("vec_id < 0"), 1)  # empty block: no-op
    v = w.table.version()
    w.process(b1, 2)
    assert w.table.version() == v + 1
    assert SI.ann_index_meta(spark, w.table)[0] == 25

    # a SECOND writer over the existing index must extend, not re-found:
    # centroid set unchanged, its block lands as one more segment
    w2 = _AnnIndexStreamWriter(
        spark, str(tmp_path / "ann"), writer_id="s2", target_centroids=2
    )
    w2.process(emb.filter(F.col("vec_id") >= 25), 0)
    cents_after = sorted(
        r["cent_id"]
        for r in w2.table.read_where(spark, "shard", ["cent"]).collect()
    )
    assert cents_after == cents_after_found
    assert SI.ann_index_meta(spark, w2.table)[0] == 30

    # maintenance compacts without changing answers
    before = sorted(
        tuple(r)
        for r in SI.ann_index_lookup(
            spark, w2.table, emb.filter(F.col("vec_id") < 3), k=3, nprobe=2
        ).collect()
    )
    w2.maintain()
    after = sorted(
        tuple(r)
        for r in SI.ann_index_lookup(
            spark, w2.table, emb.filter(F.col("vec_id") < 3), k=3, nprobe=2
        ).collect()
    )
    assert before == after and len(before) > 0


def test_ivfpq_index_stream_writer_founds_then_extends(spark, tmp_path):
    """_IvfPqIndexStreamWriter (r14): block 0 founds centroids AND PQ
    codebooks, later blocks extend against both FIXED generations;
    replays/empty blocks publish nothing; a second writer over an
    existing index extends instead of re-founding; the accumulated
    index answers the one-shot founding-draw construction verbatim."""
    import random

    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _IvfPqIndexStreamWriter,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    w = _IvfPqIndexStreamWriter(
        spark, str(tmp_path / "ix"), writer_id="s",
        dim=8, m=4, target_codes=8, target_centroids=6,
    )
    b0 = emb.filter(F.col("vec_id") < 20)
    b1 = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 25))
    w.process(b0, 0)
    cb_after_found = sorted(
        (r["sub_m"], r["code"])
        for r in w.table.read_where(spark, "shard", [SI.PQ_CB_SHARD]).collect()
    )
    w.process(b0, 0)  # committed replay: no-op
    w.process(b0.filter("vec_id < 0"), 1)  # empty block: no-op
    v = w.table.version()
    w.process(b1, 2)
    assert w.table.version() == v + 1
    assert SI.ivfpq_index_meta(spark, w.table)[0] == 25

    w2 = _IvfPqIndexStreamWriter(
        spark, str(tmp_path / "ix"), writer_id="s2",
        dim=8, m=4, target_codes=2, target_centroids=2,
    )
    w2.process(emb.filter(F.col("vec_id") >= 25), 0)
    cb_after = sorted(
        (r["sub_m"], r["code"])
        for r in w2.table.read_where(spark, "shard", [SI.PQ_CB_SHARD]).collect()
    )
    assert cb_after == cb_after_found  # codebooks fixed at creation
    assert SI.ivfpq_index_meta(spark, w2.table)[0] == 30

    # the streamed index == a one-shot build on block 0 + one extend of
    # the rest (same founding draws -> identical lookups)
    oneshot = SI.build_ivfpq_index(
        emb.filter(F.col("vec_id") < 20), str(tmp_path / "ref"),
        dim=8, m=4, target_codes=8, target_centroids=6,
    )
    SI.extend_ivfpq_index(emb.filter(F.col("vec_id") >= 20), oneshot)
    q = emb.filter(F.col("vec_id") < 3)
    got = [
        tuple(r)
        for r in SI.ivfpq_index_lookup(spark, w2.table, q, k=3, nprobe=2)
        .orderBy("query_id", "rank").collect()
    ]
    want = [
        tuple(r)
        for r in SI.ivfpq_index_lookup(spark, oneshot, q, k=3, nprobe=2)
        .orderBy("query_id", "rank").collect()
    ]
    assert got == want and len(got) > 0

    # maintenance compacts without changing answers
    w2.maintain()
    after = [
        tuple(r)
        for r in SI.ivfpq_index_lookup(spark, w2.table, q, k=3, nprobe=2)
        .orderBy("query_id", "rank").collect()
    ]
    assert after == want


def test_ann_index_stream_checkpointed_drain(spark, tmp_path):
    """End-to-end checkpointed ann_index_stream over a file feed: the
    accumulated index answers exactly as a manual found+extend over the
    same blocks (exactly-once segments through the real foreachBatch
    machinery)."""
    import random

    from apache_kafka_clickhouse_demo_spark.operators import search_index as SI
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        ann_index_stream,
    )

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(24)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    feed = str(tmp_path / "feed")
    emb.repartition(1).write.parquet(feed)

    src = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).parquet(feed)
    q = ann_index_stream(
        spark,
        src,
        index_dir=str(tmp_path / "ann"),
        checkpoint=str(tmp_path / "ck"),
        target_centroids=5,
    )
    q.awaitTermination(120)

    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

    table = TransactionalTable(str(tmp_path / "ann"))
    assert SI.ann_index_meta(spark, table)[0] == 24
    got = SI.ann_index_lookup(
        spark, table, emb.filter(F.col("vec_id") < 3), k=3, nprobe=2
    ).collect()
    assert len(got) == 9


def _domcap_writer(spark, tmp_path, cap=3, tag="w"):
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _DomainCapStreamWriter,
    )

    return _DomainCapStreamWriter(
        spark,
        str(tmp_path / f"kept_{tag}"),
        str(tmp_path / f"store_{tag}"),
        cap=cap,
        writer_id=tag,
    )


def _urls_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string")


def test_domain_cap_stream_quota_accumulates_across_blocks(spark, tmp_path):
    """The per-domain counter suppresses across blocks: with cap=3, a
    domain that used 2 slots in block 0 gets exactly 1 more in block 1,
    and domain_rank carries the GLOBAL rank (prior + in-block)."""
    w = _domcap_writer(spark, tmp_path, cap=3)
    a = "https://a.com/p"
    b = "https://b.com/p"
    w.process(_urls_df(spark, [(1, a + "1"), (2, a + "2"), (10, b + "1")]), 0)
    w.process(
        _urls_df(spark, [(3, a + "3"), (4, a + "4"), (11, b + "2")]), 1
    )
    kept = {
        r["doc_id"]: r["domain_rank"]
        for r in w.out.read(spark).collect()
    }
    assert kept == {1: 1, 2: 2, 10: 1, 3: 3, 11: 2}  # 4 dropped: quota full

    # replay of a fully-committed batch: no-op (versions unchanged)
    vs, vo = w.store.version(), w.out.version()
    w.process(_urls_df(spark, [(3, a + "3"), (4, a + "4"), (11, b + "2")]), 1)
    assert (w.store.version(), w.out.version()) == (vs, vo)

    # empty block: publishes nothing
    w.process(_urls_df(spark, []).filter("doc_id < 0"), 2)
    assert (w.store.version(), w.out.version()) == (vs, vo)


def test_domain_cap_stream_half_committed_retry_rederives_survivors(
    spark, tmp_path, monkeypatch
):
    """The retry-pin protocol: a batch that died BETWEEN its store and
    out commits must re-derive the exact survivors its first attempt
    published increments for — re-reading at the current version would
    count the block against itself and wrongly drop kept rows.  Forced
    by failing the out COMMIT on the first attempt (r16: the writer
    stages both tables concurrently and publishes via commit_staged, so
    the crash window between the two commits is injected there)."""
    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _domcap_writer(spark, tmp_path, cap=2)
    a = "https://a.com/p"
    w.process(_urls_df(spark, [(1, a + "1")]), 0)  # domain at 1/2

    orig = TXL.TransactionalTable.commit_staged
    calls = {"n": 0}

    def fail_out(self, staged, **kw):
        if "kept_" in self.path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected out-commit failure")
        return orig(self, staged, **kw)

    monkeypatch.setattr(TXL.TransactionalTable, "commit_staged", fail_out)
    import pytest

    block = _urls_df(spark, [(2, a + "2"), (3, a + "3")])
    with pytest.raises(RuntimeError, match="injected"):
        w.process(block, 1)  # store committed, out did not
    assert w.store.txn_committed("w:1") and not w.out.txn_committed("w:1")

    w.process(block, 1)  # retry: must keep doc 2 ONLY (slot 2 of 2)
    monkeypatch.setattr(TXL.TransactionalTable, "commit_staged", orig)
    kept = {
        r["doc_id"]: r["domain_rank"] for r in w.out.read(spark).collect()
    }
    assert kept == {1: 1, 2: 2}

    # and the counters are not double-published: a fresh block sees 2/2
    w.process(_urls_df(spark, [(4, a + "4")]), 2)
    assert {r["doc_id"] for r in w.out.read(spark).collect()} == {1, 2}


def test_domain_cap_stream_null_domains_form_one_group(spark, tmp_path):
    """Unparseable URLs (NULL reg_domain) cap as ONE group — the batch
    operator's PARTITION BY NULL semantics — and never crash the shard
    router."""
    w = _domcap_writer(spark, tmp_path, cap=2)
    w.process(
        _urls_df(spark, [(1, "nonsense"), (2, None), (3, "also bad")]), 0
    )
    kept = sorted(r["doc_id"] for r in w.out.read(spark).collect())
    assert kept == [1, 2]  # third NULL-domain row exceeds the group cap


def test_domain_cap_stream_pruned_read_touches_one_file_per_shard(
    spark, tmp_path, monkeypatch
):
    """The counter store's 100 TB contract: a block's prior-count read
    touches ONLY the shards its own domains hash to, at most one file
    per shard after maintenance — per-block cost O(block domains),
    however many domains the stream has accumulated (the near-dup
    stores' files-read assertion, on the counter table)."""
    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _domcap_writer(spark, tmp_path, cap=2)
    # seed: two blocks over 60 domains, then compact to 1 file/shard
    w.process(
        _urls_df(
            spark,
            [(i, f"https://d{i % 60}.com/p{i}") for i in range(120)],
        ),
        0,
    )
    w.process(
        _urls_df(
            spark,
            [(200 + i, f"https://d{i % 60}.com/q{i}") for i in range(60)],
        ),
        1,
    )
    w.maintain()

    calls = []
    orig = TXL.TransactionalTable.read_where

    def spy(self, spark_, col, values, version=None):
        df = orig(self, spark_, col, values, version=version)
        calls.append((sorted(values), df.inputFiles()))
        return df

    monkeypatch.setattr(TXL.TransactionalTable, "read_where", spy)
    # fresh block touching exactly TWO domains
    w.process(
        _urls_df(
            spark,
            [(900, "https://d3.com/z"), (901, "https://d7.com/z")],
        ),
        2,
    )
    monkeypatch.setattr(TXL.TransactionalTable, "read_where", orig)

    shards, files = calls[0]
    # pruning exactness: only the two domains' shards were requested
    assert len(shards) <= 2
    per_shard: dict = {}
    for f in files:
        sh = f.split("shard=")[1].split("/")[0]
        per_shard[sh] = per_shard.get(sh, 0) + 1
    assert files and max(per_shard.values()) == 1, per_shard


def _cms_writer(spark, tmp_path, tag="w", width=64, depth=4, shards=4):
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _CountMinStreamWriter,
    )

    return _CountMinStreamWriter(
        spark,
        str(tmp_path / f"cmsstore_{tag}"),
        key_col="k",
        width=width,
        depth=depth,
        cms_shards=shards,
        writer_id=tag,
    )


def _keys_df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "k string")


def test_count_min_stream_running_estimates_accumulate(spark, tmp_path):
    """Per-block estimates are AT-INGEST running totals: with a width
    far above the key count (no collisions — CMS is exact in that
    regime), each block's out rows equal the cumulative exact counts
    through that block; the drained store's merged sketch equals the
    batch sketch on the concatenated feed cell-for-cell (linearity);
    fully-committed replays and empty blocks publish nothing."""
    from apache_kafka_clickhouse_demo_spark.operators.sketches import (
        count_min_build,
    )

    w = _cms_writer(spark, tmp_path)
    w.process(_keys_df(spark, ["a", "a", "b"]), 0)
    w.process(_keys_df(spark, ["a", "b", "c", "c"]), 1)
    rows = {
        (r["batch_id"], r["k"]): r["est"] for r in w.out_rows().collect()
    }
    assert rows == {
        (0, "a"): 2, (0, "b"): 1,
        (1, "a"): 3, (1, "b"): 2, (1, "c"): 2,
    }

    merged = {
        (r["d"], r["bucket"]): r["n"] for r in w.merged_sketch().collect()
    }
    batch = {
        (r["d"], r["bucket"]): r["n"]
        for r in count_min_build(
            _keys_df(spark, ["a", "a", "b", "a", "b", "c", "c"]),
            "k", width=64, depth=4,
        ).collect()
    }
    assert merged == batch and len(merged) > 0

    vs = w.store.version()
    w.process(_keys_df(spark, ["a", "b", "c", "c"]), 1)  # replay: no-op
    assert w.store.version() == vs
    w.process(_keys_df(spark, []).filter("k IS NOT NULL"), 2)  # idle
    assert w.store.version() == vs
    # all-NULL-key block: CMS counts non-NULL keys, nothing published
    w.process(spark.createDataFrame([(None,), (None,)], "k string"), 3)
    assert w.store.version() == vs


def test_count_min_stream_atomic_commit_failure_replays_clean(
    spark, tmp_path, monkeypatch
):
    """r13 single-commit protocol on the CMS store: increments and
    estimates land in ONE txn record, so a crash anywhere before the
    publish leaves NOTHING visible, and the retry recomputes the
    identical block against the pre-block snapshot — estimates exact,
    counters never double-published."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _cms_writer(spark, tmp_path)
    w.process(_keys_df(spark, ["a", "a"]), 0)
    v0 = w.store.version()

    orig = TXL.TransactionalTable._publish
    calls = {"n": 0}

    def fail_publish(self, payload, dest_path):
        if "cmsstore_" in self.path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected publish failure")
        return orig(self, payload, dest_path)

    monkeypatch.setattr(TXL.TransactionalTable, "_publish", fail_publish)
    block = _keys_df(spark, ["a", "b", "b"])
    with pytest.raises(RuntimeError, match="injected"):
        w.process(block, 1)
    # nothing visible: no version bump, no txn, no estimate rows
    assert w.store.version() == v0
    assert not w.store.txn_committed("w:1")
    assert {r["batch_id"] for r in w.out_rows().collect()} == {0}

    w.process(block, 1)  # retry: one commit, exact running estimates
    monkeypatch.setattr(TXL.TransactionalTable, "_publish", orig)
    assert w.store.version() == v0 + 1
    rows = {
        (r["batch_id"], r["k"]): r["est"] for r in w.out_rows().collect()
    }
    assert rows == {(0, "a"): 2, (1, "a"): 3, (1, "b"): 2}

    # counters not double-published either: a fresh block's estimates
    # continue from the true totals
    w.process(_keys_df(spark, ["b"]), 2)
    rows2 = {
        (r["batch_id"], r["k"]): r["est"] for r in w.out_rows().collect()
    }
    assert rows2[(2, "b")] == 3


def _dcms_writer(spark, tmp_path, tag="w", bits=8, width=64, depth=3,
                 ranges=((1, 0, 16), (2, 16, 256)), shards=4, ps=None):
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _DyadicCmsStreamWriter,
    )

    return _DyadicCmsStreamWriter(
        spark,
        str(tmp_path / f"dcmsstore_{tag}"),
        value_col="v",
        ranges=list(ranges),
        universe_bits=bits,
        width=width,
        depth=depth,
        cms_shards=shards,
        writer_id=tag,
        ps=ps,
    )


def _vals_df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "v long")


def test_dyadic_stream_running_band_counts_accumulate(spark, tmp_path):
    """Per-block band estimates are at-ingest running totals (exact in
    the wide-grid regime); the drained store's merged structure equals
    the batch build on the concatenated feed cell-for-cell; replays,
    idle blocks, and all-dropped blocks publish nothing."""
    from apache_kafka_clickhouse_demo_spark.operators.sketches import (
        dyadic_cms_build,
    )

    w = _dcms_writer(spark, tmp_path, width=1 << 12)
    w.process(_vals_df(spark, [3, 5, 20]), 0)
    w.process(_vals_df(spark, [7, 200, 20]), 1)
    rows = {
        (r["batch_id"], r["range_id"]): r["est"]
        for r in w.out_rows().collect()
    }
    assert rows == {
        (0, 1): 2, (0, 2): 1,
        (1, 1): 3, (1, 2): 3,
    }
    merged = {
        (r["level"], r["d"], r["bucket"]): r["n"]
        for r in w.merged_sketch().collect()
    }
    batch = {
        (r["level"], r["d"], r["bucket"]): r["n"]
        for r in dyadic_cms_build(
            _vals_df(spark, [3, 5, 20, 7, 200, 20]), "v",
            universe_bits=8, width=1 << 12, depth=3,
        ).collect()
    }
    assert merged == batch and len(merged) > 0

    vs = w.store.version()
    w.process(_vals_df(spark, [7, 200, 20]), 1)  # replay: no-op
    assert w.store.version() == vs
    # all rows NULL/out-of-range: dropped by the batch contract
    w.process(spark.createDataFrame([(None,), (-3,), (999,)], "v long"), 2)
    assert w.store.version() == vs


def test_dyadic_stream_sparse_block_estimate_reads_unread_band_mass(
    spark, tmp_path
):
    """ADVICE r12 (high): the published running band estimates address
    the FIXED ranges' dyadic piece cells, which are independent of the
    block — a sparse block whose touched shards miss a shard holding
    PRIOR band mass must still publish the full running count (the
    never-an-undercount contract), not see the unread cell join as
    NULL -> 0 -> min-over-d zeroing the piece.  Construction: many
    shards (64) so a single-value block touches few; block 0 puts all
    of range [0,16)'s mass in piece (4,0)'s cells; block 1 is the first
    range-2 value whose shard footprint provably misses one of those
    cells' shards (asserted as a precondition, so the test cannot
    silently degenerate into the dense-block regime)."""
    from apache_kafka_clickhouse_demo_spark.functions.hashing import py_h48

    bits, width, depth, n_shards = 8, 1 << 12, 3, 64

    def shard(lvl, d, key):
        b = py_h48(f"dcms:{lvl}:{d}:{key}") % width
        return f"y{((lvl * depth + d) * width + b) % n_shards}"

    # range 1 = [0, 16) decomposes to the single piece (4, 0); its
    # depth cell shards hold ALL of block 0's mass (values 3 and 5)
    piece_shards = {shard(4, d, 0) for d in range(depth)}

    def footprint(v):
        return {
            shard(lvl, d, v >> lvl)
            for lvl in range(bits + 1)
            for d in range(depth)
        }

    v2 = next(v for v in range(16, 256) if not piece_shards <= footprint(v))

    w = _dcms_writer(
        spark, tmp_path, bits=bits, width=width, depth=depth, shards=n_shards
    )
    w.process(_vals_df(spark, [3, 5]), 0)
    w.process(_vals_df(spark, [v2]), 1)
    rows = {
        (r["batch_id"], r["range_id"]): r["est"]
        for r in w.out_rows().collect()
    }
    assert rows == {(0, 1): 2, (0, 2): 0, (1, 1): 2, (1, 2): 1}


def test_dyadic_stream_running_quantiles_accumulate(spark, tmp_path):
    """r14 (VERDICT r13 #6): a writer constructed with `ps` publishes
    running quantiles per block in the SAME atomic commit — exact in
    the wide-grid (no-collision) regime, where the descent equals the
    integer-rule quantile; the drained store's descent equals the batch
    dyadic_quantiles over the concatenated feed verbatim."""
    from apache_kafka_clickhouse_demo_spark.operators.sketches import (
        dyadic_cms_build,
        dyadic_quantiles,
    )

    w = _dcms_writer(spark, tmp_path, width=1 << 12, ps=[500, 900])
    w.process(_vals_df(spark, [3, 5, 20]), 0)
    w.process(_vals_df(spark, [7, 200, 20]), 1)
    qrows = {
        (r["batch_id"], r["p_permille"]): (r["target_rank"], r["q_value"])
        for r in w.quantile_rows().collect()
    }
    # block 0: {3,5,20} -> p500 rank 2 = 5, p900 rank 3 = 20
    # block 1: {3,5,7,20,20,200} -> p500 rank 3 = 7, p900 rank 6 = 200
    assert qrows == {
        (0, 500): (2, 5), (0, 900): (3, 20),
        (1, 500): (3, 7), (1, 900): (6, 200),
    }
    # the range-count publication is unchanged by the ps composition
    rows = {
        (r["batch_id"], r["range_id"]): r["est"]
        for r in w.out_rows().collect()
    }
    assert rows == {(0, 1): 2, (0, 2): 1, (1, 1): 3, (1, 2): 3}
    # drained-store descent == batch descent over the one-shot build
    drained = [tuple(r) for r in w.quantiles().collect()]
    batch = [
        tuple(r)
        for r in dyadic_quantiles(
            dyadic_cms_build(
                _vals_df(spark, [3, 5, 20, 7, 200, 20]), "v",
                universe_bits=8, width=1 << 12, depth=3,
            ),
            [500, 900], universe_bits=8, width=1 << 12, depth=3,
        ).collect()
    ]
    assert drained == batch and len(drained) == 2


def test_dyadic_stream_quantile_commit_failure_replays_clean(
    spark, tmp_path, monkeypatch
):
    """The quantile rows ride the SAME single publish: a crash before
    the commit record leaves no increments, no estimates AND no
    quantile rows; the retry re-derives all three against the pre-block
    snapshot."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _dcms_writer(spark, tmp_path, width=1 << 12, ps=[500])
    w.process(_vals_df(spark, [3, 3]), 0)
    v0 = w.store.version()

    orig = TXL.TransactionalTable._publish
    calls = {"n": 0}

    def fail_publish(self, payload, dest_path):
        if "dcmsstore_" in self.path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected publish failure")
        return orig(self, payload, dest_path)

    monkeypatch.setattr(TXL.TransactionalTable, "_publish", fail_publish)
    block = _vals_df(spark, [5, 20, 20])
    with pytest.raises(RuntimeError, match="injected"):
        w.process(block, 1)
    assert w.store.version() == v0
    assert {r["batch_id"] for r in w.quantile_rows().collect()} == {0}

    w.process(block, 1)  # retry
    monkeypatch.setattr(TXL.TransactionalTable, "_publish", orig)
    assert w.store.version() == v0 + 1
    qrows = {
        (r["batch_id"], r["p_permille"]): (r["target_rank"], r["q_value"])
        for r in w.quantile_rows().collect()
    }
    # block 0: {3,3} -> p500 rank 1 = 3
    # block 1: {3,3,5,20,20} -> p500 rank 3 = 5 (exact: no double count)
    assert qrows == {(0, 500): (1, 3), (1, 500): (3, 5)}


def test_dyadic_stream_atomic_commit_failure_replays_clean(
    spark, tmp_path, monkeypatch
):
    """r13 single-commit protocol: increments and estimates land in ONE
    txn record, so a crash ANYWHERE before the commit publishes leaves
    NOTHING visible — no half-committed state exists by construction —
    and the retry recomputes the identical block against the pre-block
    snapshot (no double counting, estimates exact)."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.operators.sketches import (
        dyadic_cms_build,
    )
    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _dcms_writer(spark, tmp_path, width=1 << 12)
    w.process(_vals_df(spark, [3, 3]), 0)
    v0 = w.store.version()

    # die AFTER staging, BEFORE the commit record publishes — the
    # latest possible crash point of the single publish
    orig = TXL.TransactionalTable._publish
    calls = {"n": 0}

    def fail_publish(self, payload, dest_path):
        if "dcmsstore_" in self.path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected publish failure")
        return orig(self, payload, dest_path)

    monkeypatch.setattr(TXL.TransactionalTable, "_publish", fail_publish)
    block = _vals_df(spark, [5, 20, 20])
    with pytest.raises(RuntimeError, match="injected"):
        w.process(block, 1)
    # nothing visible: no store version, no txn, no estimate rows
    assert w.store.version() == v0
    assert not w.store.txn_committed("w:1")
    assert {r["batch_id"] for r in w.out_rows().collect()} == {0}

    w.process(block, 1)  # retry: one commit, exact running estimates
    monkeypatch.setattr(TXL.TransactionalTable, "_publish", orig)
    assert w.store.version() == v0 + 1
    rows = {
        (r["batch_id"], r["range_id"]): r["est"]
        for r in w.out_rows().collect()
    }
    # the live histogram emits every band each block, zeros included
    assert rows == {(0, 1): 2, (0, 2): 0, (1, 1): 3, (1, 2): 2}
    # drained store == batch structure cell-for-cell (no double count)
    merged = {
        (r["level"], r["d"], r["bucket"]): r["n"]
        for r in w.merged_sketch().collect()
    }
    batch = {
        (r["level"], r["d"], r["bucket"]): r["n"]
        for r in dyadic_cms_build(
            _vals_df(spark, [3, 3, 5, 20, 20]), "v",
            universe_bits=8, width=1 << 12, depth=3,
        ).collect()
    }
    assert merged == batch


def _uniq_writer(spark, tmp_path, tag="w", shards=4):
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _UniqStreamWriter,
    )

    return _UniqStreamWriter(
        spark,
        str(tmp_path / f"uniqstore_{tag}"),
        group_col="g",
        key_col="k",
        uniq_shards=shards,
        writer_id=tag,
    )


def _gk_df(spark, rows):
    return spark.createDataFrame(rows, "g string, k string")


def test_uniq_stream_running_estimates_accumulate(spark, tmp_path):
    """Per-block estimates are at-ingest running count-distincts (the
    sketch is coupon-exact at these cardinalities); the drained store's
    merged estimates equal the batch uniqState/uniqMerge path exactly
    (register-identity under block splits); replay and idle blocks
    publish nothing; NULL groups accumulate as one group."""
    from apache_kafka_clickhouse_demo_spark.functions import agg_state as S

    w = _uniq_writer(spark, tmp_path)
    w.process(_gk_df(spark, [("a", "u1"), ("a", "u2"), ("b", "u1"), (None, "x")]), 0)
    w.process(_gk_df(spark, [("a", "u2"), ("a", "u3"), (None, "y")]), 1)
    rows = {
        (r["batch_id"], r["g"]): r["approx_uniq"]
        for r in w.out_rows().collect()
    }
    assert rows == {
        (0, "a"): 2, (0, "b"): 1, (0, None): 1,
        (1, "a"): 3, (1, None): 2,
    }

    got = {
        r["g"]: r["approx_uniq"] for r in w.merged_estimates().collect()
    }
    feed = _gk_df(
        spark,
        [("a", "u1"), ("a", "u2"), ("b", "u1"), (None, "x"),
         ("a", "u2"), ("a", "u3"), (None, "y")],
    )
    want = {
        r["g"]: r["n"]
        for r in feed.groupBy("g")
        .agg(F.hll_sketch_estimate(S.uniq_state("k")).alias("n"))
        .collect()
    }
    # merged-from-blocks == whole-input sketch (register identity)
    assert got == want == {"a": 3, "b": 1, None: 2}

    vs = w.store.version()
    w.process(_gk_df(spark, [("a", "u2"), ("a", "u3"), (None, "y")]), 1)
    assert w.store.version() == vs
    w.process(_gk_df(spark, []).filter("k IS NOT NULL"), 2)
    assert w.store.version() == vs


def test_uniq_stream_atomic_commit_failure_replays_clean(
    spark, tmp_path, monkeypatch
):
    """r13 single-commit protocol on the HLL state store: state rows
    and estimates land in ONE txn record — a crash anywhere before the
    publish leaves nothing visible, and the retry recomputes the block
    against the pre-block snapshot (out rows exact, states never
    double-published — union idempotence is no longer even needed)."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _uniq_writer(spark, tmp_path)
    w.process(_gk_df(spark, [("a", "u1")]), 0)
    v0 = w.store.version()

    orig = TXL.TransactionalTable._publish
    calls = {"n": 0}

    def fail_publish(self, payload, dest_path):
        if "uniqstore_" in self.path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected publish failure")
        return orig(self, payload, dest_path)

    monkeypatch.setattr(TXL.TransactionalTable, "_publish", fail_publish)
    block = _gk_df(spark, [("a", "u2"), ("b", "u9")])
    with pytest.raises(RuntimeError, match="injected"):
        w.process(block, 1)
    assert w.store.version() == v0
    assert not w.store.txn_committed("w:1")
    assert {r["batch_id"] for r in w.out_rows().collect()} == {0}

    w.process(block, 1)
    monkeypatch.setattr(TXL.TransactionalTable, "_publish", orig)
    assert w.store.version() == v0 + 1
    rows = {
        (r["batch_id"], r["g"]): r["approx_uniq"]
        for r in w.out_rows().collect()
    }
    assert rows == {(0, "a"): 1, (1, "a"): 2, (1, "b"): 1}

    w.process(_gk_df(spark, [("a", "u3")]), 2)
    rows2 = {
        (r["batch_id"], r["g"]): r["approx_uniq"]
        for r in w.out_rows().collect()
    }
    assert rows2[(2, "a")] == 3


def test_dyadic_stream_unified_files_carry_full_schema(spark, tmp_path):
    """The single-commit protocol's no-schema-merge contract: every
    parquet file a block stages carries the UNIFIED column set (cell
    columns NULL on estimate rows and vice versa), so any read of any
    shard subset resolves without mergeSchema."""
    import glob
    import os

    import pyarrow.parquet as pq

    w = _dcms_writer(spark, tmp_path, width=1 << 12)
    w.process(_vals_df(spark, [3, 5, 20]), 0)
    files = [
        f for f in glob.glob(str(tmp_path / "dcmsstore_w" / "store" / "**" / "*.parquet"),
                             recursive=True)
        if os.path.sep + "_" not in f
    ]
    assert files
    cols = {"level", "d", "bucket", "n", "batch_id", "range_id", "lo", "hi", "est"}
    for f in files:
        names = set(pq.read_schema(f).names)
        assert cols <= names | {"shard"}, (f, names)


def _tokcap_writer(spark, tmp_path, budget, tag="tw"):
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _DomainCapStreamWriter,
    )

    return _DomainCapStreamWriter(
        spark,
        str(tmp_path / f"kept_{tag}"),
        str(tmp_path / f"store_{tag}"),
        cap=budget,
        writer_id=tag,
        token_mode=True,
    )


def _tok_docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def test_token_cap_stream_budget_accumulates_across_blocks(spark, tmp_path):
    """r15: the per-domain TOKEN counter suppresses across blocks —
    with budget=10, a domain that charged 8 in block 0 admits one more
    3-token doc NEVER (8+3 > 10) but a 2-token doc fits; cum_tokens
    carries the GLOBAL running charge, and an empty text charges 1."""
    w = _tokcap_writer(spark, tmp_path, budget=10)
    a = "https://a.com/p"
    b = "https://b.org/p"
    w.process(
        _tok_docs_df(
            spark,
            [(1, a, "one two three four five"), (2, a, "x y z"), (10, b, "")],
        ),
        0,
    )  # a.com: 5 + 3 = 8; b.org: floor 1
    w.process(
        _tok_docs_df(
            spark,
            [(3, a, "p q r"), (4, a, "s t"), (11, b, "k l m n o p q r s")],
        ),
        1,
    )  # a.com: doc 3 (8+3=11 > 10) rejected; doc 4 (11+2=13) rejected
    #   because the BATCH cumsum counts doc 3's charge (all-rows
    #   accounting) — without it, 8+2=10 would wrongly admit doc 4.
    #   b.org: 1 + 9 = 10, exactly on budget.
    kept = {
        r["doc_id"]: (r["doc_tokens"], r["cum_tokens"])
        for r in w.out.read(spark).collect()
    }
    assert kept == {1: (5, 5), 2: (3, 8), 10: (1, 1), 11: (9, 10)}

    # replay of a fully-committed batch: no-op (versions unchanged)
    vs, vo = w.store.version(), w.out.version()
    w.process(_tok_docs_df(spark, [(3, a, "p q r"), (4, a, "s t")]), 1)
    assert (w.store.version(), w.out.version()) == (vs, vo)


def test_token_cap_stream_matches_batch_on_id_ordered_feed(spark, tmp_path):
    """Drain parity: feeding id-ordered blocks through the token-mode
    writer equals dedup.domain_token_cap on the concatenated corpus
    row-for-row — including a domain whose rejections leave unusable
    budget behind (the all-rows accounting case)."""
    from apache_kafka_clickhouse_demo_spark.operators.dedup import (
        domain_token_cap,
    )

    rows = [
        (i, f"https://dom{i % 3}.com/p", "w " * ((i * 7) % 11 + 1))
        for i in range(40)
    ]
    w = _tokcap_writer(spark, tmp_path, budget=25, tag="par")
    for blk in range(4):
        w.process(_tok_docs_df(spark, rows[blk * 10 : (blk + 1) * 10]), blk)
    streamed = {
        (r["doc_id"], r["reg_domain"], r["doc_tokens"], r["cum_tokens"])
        for r in w.out.read(spark).collect()
    }
    batch = {
        (r["doc_id"], r["reg_domain"], r["doc_tokens"], r["cum_tokens"])
        for r in domain_token_cap(_tok_docs_df(spark, rows), budget=25).collect()
    }
    assert streamed == batch and streamed
