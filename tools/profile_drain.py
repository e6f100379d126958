"""Per-phase profile of the exactly-once streaming drains.

A drain's wall splits three ways: (a) the per-block jobs inside
`_DrainWriter.process` (staging writes, commits, driver collects),
(b) Structured-Streaming machinery around each micro-batch (source
listing, offset + commit checkpoints, trigger loop), and (c) the
query-level fixture work (feed build, final read).  This tool times all
three separately so "cut one more job" vs "the remainder is streaming
machinery" is a measurement, not a guess.

Method: wrap TransactionalTable.stage_for_append / commit_staged (every
writer publish is one or both) / read_where / commit_files /
txn_committed and DataFrame.first with timers, wrap
`_DrainWriter.process` (every `_*StreamWriter` inherits it) for
per-block totals, then run the EXACT registry query at sf0.1.
Streaming overhead = (query wall) - (sum of process() walls).  A
two-table writer stages its store rows on a side thread, so the
stage_for_append total can overlap the block's other work and the
in-process remainder can come out negative.

Usage:
  python tools/profile_drain.py [minhash|embed|both]
  python tools/profile_drain.py query NAME [NAME ...]
"""

from __future__ import annotations

import contextlib
import sys
import threading
import time
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql.classic.dataframe import DataFrame  # noqa: E402

from apache_kafka_clickhouse_demo_spark import queries as Q  # noqa: E402
from apache_kafka_clickhouse_demo_spark.session import get_spark  # noqa: E402
from apache_kafka_clickhouse_demo_spark.sources import txlog as TX  # noqa: E402
from apache_kafka_clickhouse_demo_spark.streaming import stateful as ST  # noqa: E402

SF = "/root/testdata/sf0.1"

NEAR_DUP = {"minhash": "stream_near_dup", "embed": "stream_embed_near_dup"}

TIMED = [
    (TX.TransactionalTable, "stage_for_append", "stage_for_append"),
    (TX.TransactionalTable, "commit_staged", "commit_staged"),
    (TX.TransactionalTable, "read_where", "read_where(plan)"),
    (TX.TransactionalTable, "commit_files", "commit_files"),
    (TX.TransactionalTable, "txn_committed", "txn_committed"),
    (DataFrame, "first", "collect(first)"),
    (ST._DrainWriter, "process", "process"),
]


@contextlib.contextmanager
def instrumented():
    """Wrap every `TIMED` method with a timer while the body runs;
    yields (total seconds per label, calls per label, the wall of each
    `process` call)."""
    acc: dict[str, float] = defaultdict(float)
    counts: dict[str, int] = defaultdict(int)
    blocks: list[float] = []
    lock = threading.Lock()  # the side staging thread times too

    def timed(orig, label):
        def wrap(*a, **k):
            t0 = time.time()
            try:
                return orig(*a, **k)
            finally:
                dt = time.time() - t0
                with lock:
                    if label == "process":
                        blocks.append(dt)
                    else:
                        acc[label] += dt
                        counts[label] += 1

        return wrap

    origs = [(obj, name, getattr(obj, name)) for obj, name, _label in TIMED]
    for (obj, name, orig), (_o, _n, label) in zip(origs, TIMED):
        setattr(obj, name, timed(orig, label))
    try:
        yield acc, counts, blocks
    finally:
        for obj, name, orig in origs:
            setattr(obj, name, orig)


def profile_query(spark, name: str, passes: int = 2) -> None:
    """Run the named registry query `passes` times in ONE session and
    print per-pass walls + the sub-op breakdown of each pass.  Pass 1 vs
    pass 2 separates JVM/codegen + Arrow warm-up (shrinks on pass 2)
    from the per-block commit-machinery floor (doesn't): the
    family-wide answer to "where do the first-pass seconds go".  Queries
    with no foreachBatch writer (the applyInPandasWithState folds, e.g.
    stream_funnel) still report the pass walls — their warm-up is
    Arrow/state machinery, not store jobs, and shows up as the
    pass-1/pass-2 delta alone."""
    fn = {**Q.QUERIES, **Q.EXTRA_QUERIES}[name]
    for p in range(1, passes + 1):
        spark.catalog.clearCache()
        with instrumented() as (acc, counts, blocks):
            t0 = time.time()
            n = fn(spark, SF).count()
            total = time.time() - t0

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
        names, passes = sys.argv[2:], 2
    else:
        names, passes = [NEAR_DUP[w] for w in NEAR_DUP if which in (w, "both")], 1
    for name in names:
        profile_query(spark, name, passes)
    spark.stop()
    return 0


if __name__ == "__main__":
    main()
