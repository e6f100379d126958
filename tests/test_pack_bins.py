"""First-fit-decreasing bin packing (operators/text_analysis.py:
pack_bins_ffd, Krell et al. 2021 no-split regime) — pinned bit-for-bit
against an independent pure-Python replica (non-SQL-expressible: bin
state is a sequential fold, the BPE precedent), plus capacity,
overflow, drop-rule, and efficiency contracts."""

from __future__ import annotations

from apache_kafka_clickhouse_demo_spark.functions import hashing as H
from apache_kafka_clickhouse_demo_spark.operators import text_analysis as TA


def _run(spark, rows, capacity, buckets=4, salt="ffd:"):
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = TA.pack_bins_ffd(df, capacity, buckets=buckets, salt=salt).collect()
    return sorted((r["bucket"], r["bin_id"], r["doc_id"], r["n_tokens"],
                   r["bin_fill"], r["overflow"]) for r in out)


def _ref(rows, capacity, buckets, salt="ffd:"):
    by_bucket: dict[int, list[tuple[int, int]]] = {}
    for doc_id, n in rows:
        if n is None or n < 0:
            continue
        b = H.py_h48(f"{salt}{doc_id}") % buckets
        by_bucket.setdefault(b, []).append((doc_id, n))
    out = []
    for b, docs in by_bucket.items():
        docs.sort(key=lambda dn: (-dn[1], dn[0]))
        fills: list[int] = []
        assign = []
        for doc_id, n in docs:
            placed = -1
            for i, f in enumerate(fills):
                if f + n <= capacity:
                    placed = i
                    fills[i] = f + n
                    break
            if placed < 0:
                placed = len(fills)
                fills.append(n)
            assign.append((doc_id, n, placed))
        for doc_id, n, i in assign:
            out.append((b, i, doc_id, n, fills[i], n > capacity))
    return sorted(out)


ROWS = [(i, (i * 37) % 90 + 5) for i in range(200)]


def test_matches_pure_python_replica_bit_for_bit(spark):
    assert _run(spark, ROWS, capacity=128) == _ref(ROWS, 128, 4)


def test_capacity_respected_except_singleton_overflow_bins(spark):
    got = _run(spark, ROWS + [(999, 500)], capacity=128)
    fills = {}
    members = {}
    for b, bin_id, doc_id, n, fill, over in got:
        fills[(b, bin_id)] = fill
        members.setdefault((b, bin_id), []).append((doc_id, over))
    for key, fill in fills.items():
        if fill > 128:
            # an over-capacity bin must be a single overflow document
            assert members[key] == [(members[key][0][0], True)]
    over_rows = [r for r in got if r[5]]
    assert len(over_rows) == 1, "the oversize doc must survive, flagged"
    assert over_rows == [(over_rows[0][0], over_rows[0][1], 999, 500, 500, True)]


def test_null_and_negative_token_rows_are_dropped(spark):
    rows = [(1, 10), (2, None), (3, -5), (4, 0)]
    got = _run(spark, rows, capacity=16)
    assert sorted(r[2] for r in got) == [1, 4]  # 0-token docs still pack


def test_ffd_never_uses_more_bins_than_next_fit(spark):
    # FFD's bin count is <= the naive sequential next-fit count in every
    # bucket (the whole point of sorting + first-fit)
    rows = [(i, n) for i, n in enumerate([70, 60, 50, 40, 30, 20, 10, 90, 80, 15])]
    got = _run(spark, rows, capacity=100, buckets=1)
    ffd_bins = len({(r[0], r[1]) for r in got})
    docs = [n for _, n in rows]
    nf_bins, fill = 1, 0
    for n in docs:
        if fill + n > 100:
            nf_bins += 1
            fill = n
        else:
            fill += n
    assert ffd_bins <= nf_bins


def test_determinism_across_runs_and_bucket_locality(spark):
    a = _run(spark, ROWS, capacity=96)
    b = _run(spark, ROWS, capacity=96)
    assert a == b
    # every doc appears exactly once
    assert sorted(r[2] for r in a) == sorted(d for d, _ in ROWS)


# ---------------------------------------------------------------------------
# Streaming twin: _PackBinsStreamWriter
# ---------------------------------------------------------------------------


def _pack_writer(spark, tmp_path, tag="w", capacity=100, buckets=4,
                 max_open=64):
    from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
        _PackBinsStreamWriter,
    )

    return _PackBinsStreamWriter(
        spark,
        str(tmp_path / f"packout_{tag}"),
        str(tmp_path / f"packstore_{tag}"),
        capacity=capacity,
        buckets=buckets,
        max_open=max_open,
        writer_id=tag,
    )


def _items_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, n_tokens long")


STREAM_ROWS = [(i, (i * 37) % 90 + 5) for i in range(60)] + [(1000, 400)]  # 1 overflow


def test_pack_stream_bucket_aligned_drain_equals_batch(spark, tmp_path):
    """The pin: on a feed whose block boundaries never split a bucket,
    every bucket packs with no prior state in exactly one block, so the
    drained assignments equal the batch pack_bins_ffd verbatim —
    including bin ids, final fills, and the overflow flag."""
    capacity, buckets = 100, 4
    w = _pack_writer(spark, tmp_path, capacity=capacity, buckets=buckets)
    by_bucket: dict[int, list] = {}
    for doc_id, n in STREAM_ROWS:
        b = H.py_h48(f"ffd:{doc_id}") % buckets
        by_bucket.setdefault(b, []).append((doc_id, n))
    for i, b in enumerate(sorted(by_bucket)):
        w.process(_items_df(spark, by_bucket[b]), i)

    got = sorted(
        (r["bucket"], r["bin_id"], r["doc_id"], r["n_tokens"],
         r["bin_fill"], r["overflow"])
        for r in w.out.read(spark).collect()
    )
    want = sorted(
        (r["bucket"], r["bin_id"], r["doc_id"], r["n_tokens"],
         r["bin_fill"], r["overflow"])
        for r in TA.pack_bins_ffd(
            _items_df(spark, STREAM_ROWS), capacity, buckets=buckets
        ).collect()
    )
    assert got == want and len(got) == len(STREAM_ROWS)


def test_pack_stream_open_bins_accumulate_across_blocks(spark, tmp_path):
    """Cross-block semantics: a later block's docs first-fit into the
    bucket's OPEN bins (bin_id order) before opening new ones, and
    bin_fill reflects the running fill as of the emitting block."""
    from apache_kafka_clickhouse_demo_spark.functions.hashing import py_h48

    capacity, buckets = 100, 1  # one bucket: everything shares state
    w = _pack_writer(spark, tmp_path, capacity=capacity, buckets=buckets)
    w.process(_items_df(spark, [(1, 60), (2, 55)]), 0)  # bins 0:[60] 1:[55]
    w.process(_items_df(spark, [(3, 40), (4, 30)]), 1)
    # FFD order in block 1: doc 3 (40) -> bin 0 (60+40=100);
    # doc 4 (30) -> bin 1 (55+30=85)
    rows = {
        r["doc_id"]: (r["bin_id"], r["bin_fill"])
        for r in w.out.read(spark).collect()
    }
    assert rows[1] == (0, 60) and rows[2] == (1, 55)
    assert rows[3] == (0, 100) and rows[4] == (1, 85)
    # bounded snapshot: bin 0 reached capacity -> CLOSED (left the
    # state forever); only bin 1 stays open
    fills = {
        (r["bucket"], r["bin_id"]): r["fill"]
        for r in w.open_bins().collect()
    }
    assert fills == {(0, 1): 85}

    # replay: no-op; all-dropped block publishes nothing
    vs, vo = w.store.version(), w.out.version()
    w.process(_items_df(spark, [(3, 40), (4, 30)]), 1)
    assert (w.store.version(), w.out.version()) == (vs, vo)
    w.process(_items_df(spark, [(None, 5), (9, None), (10, -1)]), 2)
    assert (w.store.version(), w.out.version()) == (vs, vo)


def test_pack_stream_half_committed_retry_rederives_assignments(
    spark, tmp_path, monkeypatch
):
    """The retry-pin rule: a batch that died between its store and out
    commits must re-derive the assignments its first attempt computed —
    re-reading the current version would see the block's own fill
    increments and pack against phantom half-full bins."""
    import pytest

    from apache_kafka_clickhouse_demo_spark.sources import txlog as TXL

    w = _pack_writer(spark, tmp_path, capacity=100, buckets=1)
    w.process(_items_df(spark, [(1, 60)]), 0)  # bin 0 at fill 60

    # the writer stages both tables concurrently and publishes via
    # commit_staged, so the between-the-commits crash is injected there
    orig = TXL.TransactionalTable.commit_staged
    calls = {"n": 0}

    def fail_out(self, staged, **kw):
        if "packout_" in self.path:
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected out-commit failure")
        return orig(self, staged, **kw)

    monkeypatch.setattr(TXL.TransactionalTable, "commit_staged", fail_out)
    block = _items_df(spark, [(2, 40), (3, 70)])
    with pytest.raises(RuntimeError, match="injected"):
        w.process(block, 1)  # store committed, out did not
    assert w.store.txn_committed("w:1") and not w.out.txn_committed("w:1")

    w.process(block, 1)  # retry must pack against the PRE-append fills
    monkeypatch.setattr(TXL.TransactionalTable, "commit_staged", orig)
    rows = {
        r["doc_id"]: (r["bin_id"], r["bin_fill"])
        for r in w.out.read(spark).collect()
    }
    # FFD order: doc 3 (70) first -> won't fit bin 0 (60+70>100) -> new
    # bin 1; doc 2 (40) -> fits bin 0 (60+40=100)
    assert rows[1] == (0, 60)
    assert rows[3] == (1, 70) and rows[2] == (0, 100)
    # state not double-published: the snapshot reflects ONE copy of
    # block 1 (bin 0 closed at capacity; bin 1 open at 70)
    fills = {
        (r["bucket"], r["bin_id"]): r["fill"]
        for r in w.open_bins().collect()
    }
    assert fills == {(0, 1): 70}


def test_pack_stream_state_stays_bounded_and_ids_never_reuse(spark, tmp_path):
    """The 100 TB contract: the snapshot holds at most max_open open
    bins per bucket (oldest close first when FFD leaves more), closed
    bins never reappear, and new bins continue past the bucket's max
    id even after closures (the sentinel next_id)."""
    w = _pack_writer(spark, tmp_path, capacity=100, buckets=1, max_open=2)
    # each 51-token doc opens its own bin (51+51 > 100): 4 open bins
    # would exceed max_open=2 -> the two OLDEST close
    w.process(_items_df(spark, [(1, 51), (2, 51), (3, 51), (4, 51)]), 0)
    fills = {
        (r["bucket"], r["bin_id"]): r["fill"]
        for r in w.open_bins().collect()
    }
    assert fills == {(0, 2): 51, (0, 3): 51}
    # a 49-token doc fits the surviving bin 2 (51+49=100, closes it);
    # a 60-token doc opens bin 4 — NOT a reused id 0/1
    w.process(_items_df(spark, [(5, 49), (6, 60)]), 1)
    rows = {
        r["doc_id"]: (r["bin_id"], r["bin_fill"])
        for r in w.out.read(spark).collect()
    }
    assert rows[5] == (2, 100) and rows[6] == (4, 60)
    fills = {
        (r["bucket"], r["bin_id"]): r["fill"]
        for r in w.open_bins().collect()
    }
    assert fills == {(0, 3): 51, (0, 4): 60}
