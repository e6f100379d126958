"""Dump every gate query's physical plan to PLANS.md.

`tests/test_plan_lint.py` asserts the invariants (no cartesian /
nested-loop joins, no unpruned scans) and `tests/test_plan_shapes.py`
pins specific shapes; this writes the actual `.explain("formatted")`
output per gate query so the plans can be READ — by a reviewer or a
future round — without running Spark.

Streaming-drain queries (their "plan" is a sequence of micro-batch jobs
plus a final parquet read) and multi-action pipeline queries are listed
with a pointer to their driving operator instead of a misleading final-
read plan.

Usage: python tools/plan_dump.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from apache_kafka_clickhouse_demo_spark import queries as Q  # noqa: E402
from apache_kafka_clickhouse_demo_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.001"

#: Queries whose callable RUNS work (streams, compaction, iterative
#: fixpoints) before returning a final read — the returned DataFrame's
#: plan is just that read, so print a pointer instead.
PIPELINE = {
    "mv_cascade_daily": "streaming/cascade.py run_cascade (3 checkpointed MVs + compaction + cutover)",
    "mv_cascade_attendance": "streaming/cascade.py run_cascade (2 checkpointed MVs + compaction + cutover)",
    "attendance_daily_compacted": "sources/txlog.py append + sources/storage.py compact_summing (one optimize commit)",
    "stream_dedup": "streaming/stateful.py streaming_dedup (dropDuplicatesWithinWatermark drain)",
    "stream_near_dup": "streaming/stateful.py minhash_dedup_stream (4-block drain vs bucket-pruned store)",
    "stream_embed_near_dup": "streaming/stateful.py embedding_dedup_stream (4-block drain vs bucket-pruned store)",
    "stream_domain_cap": "streaming/stateful.py domain_cap_stream (4-block drain vs shard-pruned per-domain counter store)",
    "stream_cms_counts": "streaming/stateful.py count_min_stream (4-block drain, one group commit per block); final read = merged sketch lookup",
    "stream_uniq_users": "streaming/stateful.py uniq_stream (4-block drain of per-group HLL states); final read = merged estimates",
    "stream_sketch_quantiles": "streaming/stateful.py dyadic_cms_stream (4-block drain, one group commit per block); final read = dyadic quantile descent",
    "stream_strat_sample": "streaming/stateful.py reservoir_sample_stream (4-block drain into a one-state per-group bottom-k store)",
    "stream_top_spenders": "streaming/stateful.py heavy_hitters_stream (4-file drain into a one-state weighted Misra-Gries store)",
    "stream_funnel": "streaming/stateful.py running_funnel (4-block ts-ordered drain); final read = last depth per key + cumulative report",
    "dedup_clusters": "operators/dedup.py connected_components (pointer-jumping fixpoint; per-round plans)",
    "replacing_latest": "sources/txlog.py append + sources/storage.py compact_replacing (one optimize commit); final read = read_replacing_final (one max_by hash aggregate)",
}


def main() -> int:
    spark = get_spark(app_name="plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    out = ["# PLANS — formatted physical plan per gate query",
           "",
           f"Generated by tools/plan_dump.py at {SF} (plan shapes are",
           "scale-independent; only statistics differ).  Invariants over",
           "these plans are asserted by tests/test_plan_lint.py and",
           "tests/test_plan_shapes.py.",
           ""]
    for name, fn in Q.QUERIES.items():
        out.append(f"## {name}")
        out.append("")
        if name in PIPELINE:
            out.append(f"_Pipeline query — executed by {PIPELINE[name]};"
                       " the returned frame is the final table read._")
            out.append("")
            continue
        try:
            df = fn(spark, SF)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        except Exception as e:  # noqa: BLE001 — dump what we can, name the rest
            plan = f"<failed to build: {e}>"
        out.append("```")
        out.append(plan.rstrip())
        out.append("```")
        out.append("")
    (REPO / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'PLANS.md'} ({len(Q.QUERIES)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
