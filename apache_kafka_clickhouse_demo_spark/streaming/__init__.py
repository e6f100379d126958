"""Structured-Streaming layer: materialized-view cascade (M1-M3), the
backfill/stream cutover pattern (M4), and watermarked/custom-state
operators.  See streaming.pipeline and streaming.stateful.

Each exactly-once stream writer in streaming.stateful is declared once,
as a `_DrainWriter` subclass, and has one public entry: its `stream`
classmethod, `entry(spark, source, checkpoint=..., **options)` with the
writer constructor's options, which starts one `availableNow` query:

- near-dup dedup: `minhash_dedup_stream`, `embedding_dedup_stream`
- URL dedup: `url_dedup_stream`
- per-domain quota: `domain_cap_stream` (`domain_token_cap_stream` is
  its token-budget mode)
- sketches: `heavy_hitters_stream` (top-k), `reservoir_sample_stream`,
  `count_min_stream`, `dyadic_cms_stream`, `uniq_stream`
- indexes: `term_index_stream`, `ann_index_stream`, `ivfpq_index_stream`
- packing: `pack_bins_stream`
"""

from apache_kafka_clickhouse_demo_spark.streaming.cascade import (  # noqa: F401
    CascadeStage,
    run_cascade,
    run_cascade_live,
)
from apache_kafka_clickhouse_demo_spark.streaming.pipeline import (  # noqa: F401
    MaterializedView,
    backfill_cutover,
    create_materialized_view,
    jdbc_sink,
    jdbc_sink_exactly_once,
)
from apache_kafka_clickhouse_demo_spark.streaming.stateful import (  # noqa: F401
    embedding_dedup_stream,
    embedding_stream_writer,
    heavy_hitters_stream,
    minhash_dedup_stream,
    minhash_stream_writer,
    running_funnel,
    running_totals,
    stream_interval_join,
    streaming_dedup,
    streaming_sessions,
    topk_stream_writer,
    windowed_counts,
)
