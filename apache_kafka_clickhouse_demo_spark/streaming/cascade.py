"""Declarative MV-cascade runner — SURVEY.md §4's "thin MV-cascade
manager": declare the stages (`source -> select -> dest`, README.rst's
chained `CREATE MATERIALIZED VIEW ... TO` pattern, :95-103/:154-162/
:222-236), and the engine wires the checkpointed streaming queries, the
inter-stage file-stream plumbing, the optional M4 backfill/stream cutover
per stage, and the optional post-stage background-merge compaction.

Each stage is one `create_materialized_view` (or `backfill_cutover`) whose
source is the previous stage's destination directory — the exact cascade
the two streaming gate queries drive, factored so a user declares the
pipeline instead of hand-wiring reader schemas, checkpoints, and drain
calls per hop.  In `run_cascade` every destination is a
`TransactionalTable`: each block is one commit keyed by the stage's
checkpoint (a replayed block adds no rows), and a stage's compaction is a
log commit, not a directory rewrite.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession

from apache_kafka_clickhouse_demo_spark.sources.txlog import (
    TransactionalTable,
    transactional_sink,
)
from apache_kafka_clickhouse_demo_spark.streaming.pipeline import (
    backfill_cutover,
    create_materialized_view,
)


@dataclass
class CascadeStage:
    """One MV hop.

    name                  destination directory name under the work root
    transform             the MV's SELECT, applied per insert block
    max_files_per_trigger file-stream block sizing for this stage's source
                          (controls how many partial rows per key land in
                          the destination — None lets one block drain all).
                          Not valid on the FIRST stage, whose source the
                          caller builds (set the option there); the runner
                          rejects it rather than silently ignore it
    cutover_predicate     M4: input rows satisfying it flow through the
                          stream, the complement backfills in one
                          `INSERT ... SELECT` (not valid on the first
                          stage, which has no history table yet)
    post_compact          background-merge hook `post_compact(spark, table)`
                          run on the stage's OWN destination
                          `TransactionalTable` after it drains — e.g.
                          `lambda s, t: t.optimize(s)` (S5 small-file
                          merge) or `compact_summing` (S6 same-key
                          collapse) — before the next stage scans it
    """

    name: str
    transform: Callable[[DataFrame], DataFrame]
    max_files_per_trigger: int | None = None
    cutover_predicate: Column | None = None
    post_compact: Callable[[SparkSession, TransactionalTable], object] | None = None


def run_cascade(
    spark: SparkSession,
    source: DataFrame,
    stages: Sequence[CascadeStage],
    work_root: str,
) -> str:
    """Wire and drain an N-stage cascade; returns the final destination
    path, a `TransactionalTable` (read it with
    `TransactionalTable(path).read(spark)`).  `source` is the first
    stage's streaming DataFrame (Kafka, file, rate); every later stage
    file-streams from its predecessor's destination with the
    predecessor's schema.  Stages drain fully (availableNow) in order —
    the batch-test twin of a continuously-running cascade, whose queries
    would instead stay started."""
    import os

    _validate_stages(stages)
    # static schema chain (same trick as live mode): stage i's input schema
    # is derived by pushing an empty batch through the upstream transforms,
    # so an EMPTY source (zero batches -> empty destination) drains cleanly
    in_schema = source.schema
    table: TransactionalTable | None = None
    for i, st in enumerate(stages):
        dest = f"{work_root}/{st.name}"
        ckpt = f"{work_root}/_ck_{st.name}"
        if i == 0:
            if st.cutover_predicate is not None:
                raise ValueError("first stage has no history table to backfill")
            src = source
            history = None
        else:
            history = (
                table.read(spark)
                if table.version() >= 0
                else spark.createDataFrame([], in_schema)
            )
            reader = spark.readStream.schema(in_schema)
            if st.max_files_per_trigger:
                reader = reader.option(
                    "maxFilesPerTrigger", st.max_files_per_trigger
                )
            src = reader.parquet(table.path)
        if st.cutover_predicate is not None:
            mv = backfill_cutover(
                spark,
                history=history,
                source=src,
                transform=st.transform,
                cutover_predicate=st.cutover_predicate,
                dest_path=dest,
                checkpoint=ckpt,
                available_now=True,
            )
        else:
            sink = transactional_sink(TransactionalTable(dest), exactly_once_id=ckpt)
            mv = create_materialized_view(
                src, st.transform, dest, ckpt, available_now=True, sink=sink
            )
        try:
            mv.process_available()
        finally:
            # a transform failing at execution time must not leak a
            # started query holding the checkpoint
            mv.stop()
        # a stage that drained zero blocks never created its directory,
        # and the next stage's file stream refuses a missing path
        os.makedirs(dest, exist_ok=True)
        table = TransactionalTable(dest)
        if st.post_compact is not None:
            st.post_compact(spark, table)
        # the next stage file-streams this directory, which must then hold
        # exactly the committed snapshot: no replaced files, no orphans
        table.vacuum(grace_seconds=0)
        in_schema = st.transform(spark.createDataFrame([], in_schema)).schema
    return table.path


def _validate_stages(stages: Sequence[CascadeStage]) -> None:
    if not stages:
        raise ValueError("a cascade needs at least one stage")
    names = [st.name for st in stages]
    if len(set(names)) != len(names):
        # duplicate names would make a stage file-stream its own output
        # directory — silent row compounding, not an error
        raise ValueError(f"duplicate stage names: {sorted(names)}")
    if stages[0].max_files_per_trigger is not None:
        raise ValueError(
            "first stage's source is caller-built; its block sizing "
            "(maxFilesPerTrigger etc.) belongs on that source, not the "
            "stage — the field would be silently ignored"
        )


def run_cascade_live(
    spark: SparkSession,
    source: DataFrame,
    stages: Sequence[CascadeStage],
    work_root: str,
) -> str:
    """ALL stages run CONCURRENTLY — the reference's actual deployment
    shape, where every MV is live at once and a consumed Kafka block
    propagates hop by hop (README.rst: the ingest MV and both aggregating
    MVs are all attached simultaneously).

    Two things make concurrent wiring possible without ever peeking at
    data: (1) each stage's input schema is derived STATICALLY by pushing an
    empty batch through the upstream transforms, so a downstream file
    stream can start watching an empty destination directory before the
    upstream has produced a single file; (2) plain parquet appends publish
    whole files, and Spark's file-stream source only picks up files that
    appear in a directory listing, so a half-written `_temporary/` staging
    file is never consumed.

    Draining: one `processAllAvailable` pass flushes one hop, so N passes
    over all queries quiesce an N-stage cascade (in production the queries
    simply stay started and this function would not stop them).
    Unsupported in live mode: `cutover_predicate` (backfill targets an
    EXISTING history table — with all stages starting empty there is no
    history to cut over; use `run_cascade`) and `post_compact` (live hops
    file-stream each other, so a compaction's replaced files would be
    re-read).  Destinations are plain parquet.  Returns the final
    destination path."""
    import os

    _validate_stages(stages)
    for st in stages:
        if st.cutover_predicate is not None or st.post_compact is not None:
            raise ValueError(
                f"stage {st.name!r}: cutover/post_compact are sequential-mode "
                "features (see docstring); use run_cascade"
            )

    # static schema chain: stage i's input schema = transform_{i-1} applied
    # to an empty batch of its own input schema (no data, no execution)
    in_schema = source.schema
    mvs = []
    path: str | None = None
    for i, st in enumerate(stages):
        dest = f"{work_root}/{st.name}"
        ckpt = f"{work_root}/_ck_{st.name}"
        if i == 0:
            src = source
        else:
            os.makedirs(path, exist_ok=True)  # watchable before data lands
            reader = spark.readStream.schema(in_schema)
            if st.max_files_per_trigger:
                reader = reader.option(
                    "maxFilesPerTrigger", st.max_files_per_trigger
                )
            src = reader.parquet(path)
        mvs.append(create_materialized_view(src, st.transform, dest, ckpt))
        in_schema = st.transform(spark.createDataFrame([], in_schema)).schema
        path = dest

    # each full pass pushes every in-flight block one hop downstream;
    # stop EVERY started query even when a drain fails mid-pass — leaked
    # queries keep consuming and hold the checkpoints against any retry
    try:
        for _ in range(len(stages)):
            for mv in mvs:
                mv.process_available()
    finally:
        for mv in mvs:
            try:
                mv.stop()
            except Exception:  # noqa: BLE001 — best-effort cleanup
                pass
    return path
