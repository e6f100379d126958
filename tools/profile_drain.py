"""Per-phase profile of the streaming near-dup drains (VERDICT r8 #3).

The gate drains (`stream_near_dup` / `stream_embed_near_dup`) spend their
wall in three places: (a) the per-block jobs inside
`_NearDupStreamWriter.process` (store append / candidate collect / out
append), (b) Structured-Streaming machinery around each micro-batch
(source listing, offset + commit checkpoints, trigger loop), and (c) the
query-level fixture work (feed build, final read).  This tool times all
three separately so "cut one more job" vs "the remainder is streaming
machinery" is a measurement, not a guess.

Method: wrap TransactionalTable.append_once / read_where / commit_files
and DataFrame.first with timers, wrap writer.process for per-block totals,
then run the EXACT gate query (queries.q_stream_near_dup /
q_stream_embed_near_dup) at sf0.1.  Streaming overhead = (stream wall
between query.start and stop) - (sum of process() walls).

Usage: python tools/profile_drain.py [minhash|embed|both]
"""

from __future__ import annotations

import sys
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame  # noqa: E402

from apache_kafka_clickhouse_demo_spark import queries as Q  # noqa: E402
from apache_kafka_clickhouse_demo_spark.session import get_spark  # noqa: E402
from apache_kafka_clickhouse_demo_spark.sources import txlog as TX  # noqa: E402
from apache_kafka_clickhouse_demo_spark.streaming import stateful as ST  # noqa: E402

SF = "/root/testdata/sf0.1"


def profile(spark, which: str) -> None:
    acc: dict[str, float] = defaultdict(float)
    counts: dict[str, int] = defaultdict(int)
    blocks: list[float] = []

    def timed(obj, name, label):
        orig = getattr(obj, name)

        def wrap(*a, **k):
            t0 = time.time()
            try:
                return orig(*a, **k)
            finally:
                acc[label] += time.time() - t0
                counts[label] += 1

        setattr(obj, name, wrap)
        return orig

    origs = [
        (TX.TransactionalTable, "append_once",
         timed(TX.TransactionalTable, "append_once", "append_once")),
        (TX.TransactionalTable, "read_where",
         timed(TX.TransactionalTable, "read_where", "read_where(plan)")),
        (TX.TransactionalTable, "commit_files",
         timed(TX.TransactionalTable, "commit_files", "commit_files")),
        (TX.TransactionalTable, "txn_committed",
         timed(TX.TransactionalTable, "txn_committed", "txn_committed")),
        (DataFrame, "first", timed(DataFrame, "first", "collect(first)")),
    ]
    orig_process = ST._NearDupStreamWriter.process

    def process(self, block, batch_id):
        t0 = time.time()
        try:
            return orig_process(self, block, batch_id)
        finally:
            blocks.append(time.time() - t0)

    ST._NearDupStreamWriter.process = process

    # rotation-proof lookup: these rows move between gate and extras
    reg = {**Q.QUERIES, **Q.EXTRA_QUERIES}
    fn = {
        "minhash": reg["stream_near_dup"],
        "embed": reg["stream_embed_near_dup"],
    }[which]
    try:
        t0 = time.time()
        n = fn(spark, SF).count()
        total = time.time() - t0
    finally:
        ST._NearDupStreamWriter.process = orig_process
        for obj, name, orig in origs:
            setattr(obj, name, orig)

    in_blocks = sum(blocks)
    print(f"\n=== {which}: total {total:.2f}s, {n} rows ===")
    print(f"blocks ({len(blocks)}): " + " ".join(f"{b:.2f}" for b in blocks)
          + f"  sum {in_blocks:.2f}s")
    print(f"outside process() [feed build + streaming machinery + final read]:"
          f" {total - in_blocks:.2f}s")
    for label in sorted(acc, key=acc.get, reverse=True):
        print(f"  {label:18s} {acc[label]:6.2f}s  x{counts[label]}")
    print(f"  (in-process remainder: "
          f"{in_blocks - sum(acc.values()):.2f}s = candidate-join build, "
          f"persist/unpersist, plan construction)")


def profile_query(spark, name: str, passes: int = 2) -> None:
    """Generic drain profile: wrap `_DrainWriter.process` (every
    `_*StreamWriter` in `streaming/stateful.py` inherits it) plus the
    TransactionalTable ops, run the named registry query `passes` times
    in ONE session, and print per-pass walls + the sub-op breakdown of
    each pass.  Pass 1 vs pass 2 separates JVM/codegen + Arrow warm-up
    (shrinks on pass 2) from the per-block commit-machinery floor
    (doesn't): the family-wide answer to "where do the first-pass
    seconds go".  Queries with no foreachBatch writer (the
    applyInPandasWithState folds, e.g. stream_funnel) still report the
    pass walls — their warm-up is Arrow/state machinery, not store
    jobs, and shows up as the pass-1/pass-2 delta alone."""
    reg = {**Q.QUERIES, **Q.EXTRA_QUERIES}
    fn = reg[name]

    for p in range(1, passes + 1):
        acc: dict[str, float] = defaultdict(float)
        counts: dict[str, int] = defaultdict(int)
        blocks: list[float] = []

        def timed(obj, nm, label):
            orig = getattr(obj, nm)

            def wrap(*a, **k):
                t0 = time.time()
                try:
                    return orig(*a, **k)
                finally:
                    acc[label] += time.time() - t0
                    counts[label] += 1

            setattr(obj, nm, wrap)
            return orig

        origs = [
            (TX.TransactionalTable, "append_once",
             timed(TX.TransactionalTable, "append_once", "append_once")),
            (TX.TransactionalTable, "read_where",
             timed(TX.TransactionalTable, "read_where", "read_where(plan)")),
            (TX.TransactionalTable, "commit_files",
             timed(TX.TransactionalTable, "commit_files", "commit_files")),
            (TX.TransactionalTable, "txn_committed",
             timed(TX.TransactionalTable, "txn_committed", "txn_committed")),
            (DataFrame, "first", timed(DataFrame, "first", "collect(first)")),
        ]
        orig_process = ST._DrainWriter.process

        def process(self, block, batch_id):
            t0 = time.time()
            try:
                return orig_process(self, block, batch_id)
            finally:
                blocks.append(time.time() - t0)

        ST._DrainWriter.process = process

        spark.catalog.clearCache()
        try:
            t0 = time.time()
            n = fn(spark, SF).count()
            total = time.time() - t0
        finally:
            ST._DrainWriter.process = orig_process
            for obj, nm, orig in origs:
                setattr(obj, nm, orig)

        in_blocks = sum(blocks)
        print(f"\n=== {name} pass {p}: total {total:.2f}s, {n} rows ===")
        if blocks:
            print(
                f"blocks ({len(blocks)}): "
                + " ".join(f"{b:.2f}" for b in blocks)
                + f"  sum {in_blocks:.2f}s"
            )
            print(
                f"outside process() [feed + streaming machinery + final "
                f"read]: {total - in_blocks:.2f}s"
            )
        for label in sorted(acc, key=acc.get, reverse=True):
            print(f"  {label:18s} {acc[label]:6.2f}s  x{counts[label]}")
        if blocks:
            print(
                f"  (in-process remainder: "
                f"{in_blocks - sum(acc.values()):.2f}s)"
            )


def main() -> int:
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    spark = get_spark(app_name="profile_drain")
    if which == "query":
        for name in sys.argv[2:]:
            profile_query(spark, name)
    else:
        for w in (["minhash", "embed"] if which == "both" else [which]):
            profile(spark, w)
    spark.stop()
    return 0


if __name__ == "__main__":
    main()
