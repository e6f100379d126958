"""Stateful streaming operators beyond the MV cascade (SURVEY.md §2.7).

The reference's MVs are stateless per insert block; these are the Spark
constructs a production pipeline adds on top for late/duplicate data and
custom per-key state:

- `streaming_dedup`       : exactly-once event dedup under a watermark
  (`dropDuplicatesWithinWatermark`) — state is bounded by the watermark
  delay instead of growing forever, which is what makes streaming dedup
  viable on an unbounded 100 TB/day feed.
- `windowed_counts`       : watermarked tumbling-window aggregation in
  append mode — closed windows are emitted exactly once.
- `running_totals`        : custom per-key state via
  `applyInPandasWithState` (Arrow-batched): running event count + value sum
  per key across micro-batches, the minimal template for bespoke stateful
  logic Spark's built-ins can't express.
"""

from __future__ import annotations

import functools
import os
import types
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_kafka_clickhouse_demo_spark.functions import text as TX_FN
from apache_kafka_clickhouse_demo_spark.functions.literals import isin_strings
from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable


def streaming_dedup(
    source: DataFrame,
    keys: list[str],
    watermark_col: str,
    delay: str = "1 hour",
) -> DataFrame:
    """Drop duplicate events (same `keys`) arriving within the watermark.

    State per key is dropped once the watermark passes, so memory is
    bounded by (event rate x delay), not stream length.
    """
    return source.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(keys)


def windowed_counts(
    source: DataFrame,
    ts_col: str,
    window: str = "1 hour",
    keys: Iterable[str] = (),
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling-window counts (append mode emits each closed
    window exactly once — the streaming twin of attendance_granular)."""
    return (
        source.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window).alias("win"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), *keys, "n_events")
    )


RUNNING_TOTALS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

RUNNING_TOTALS_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _running_totals_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Fold this batch's rows for one user into the persistent state and
    emit the updated running totals."""
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
    )


def running_totals(source: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained across micro-batches
    — custom state the built-in aggregations cannot persist per key with
    arbitrary update logic.  Arrow-batched; state lives in the state store,
    partitioned by user_id, so it scales horizontally with executors."""
    return source.groupBy("user_id").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_TOTALS_OUTPUT_SCHEMA,
        stateStructType=RUNNING_TOTALS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: off in a block's session (see `_DrainWriter`'s block-planning rule)
_AQE = "spark.sql.adaptive.enabled"


def _pay_type(sigs: DataFrame):
    """The payload column's Spark type (varies per writer: shingle set vs
    normalized vector) — used to type the NULL payload of band rows so the
    two row kinds union into one schema."""
    return sigs.schema["payload"].dataType


#: one store-shard directory should stay around this many rows at the
#: EXPECTED corpus size — small enough that a block's pruned read of one
#: shard is a bounded scan, large enough that shard-directory count (and
#: the one-file-per-shard maintenance layout) stays object-store-friendly
SHARD_TARGET_ROWS = 4_000_000


def shards_for_store(expected_rows: int, rows_per_shard: int = SHARD_TARGET_ROWS) -> int:
    """Shard-count sizing rule (the store's knob for corpus scale): the
    writers' shard-granular pruning bounds FILES, not rows — one shard
    directory is the unit a block's pruned read pays for, so its row
    count must stay bounded as the corpus grows.  Returns the smallest
    power of two with <= `rows_per_shard` rows per shard at
    `expected_rows` total (power of two keeps `pmod(xxhash64, n)`
    uniform), floored at the test-scale default 16 and capped at 2^20
    directories.

    At 100 TB: ~1e11 docs x 4 band keys = 4e11 band rows -> 131072 band
    shards of ~3M rows each; ~1e11 payload rows -> 32768 payload shards.
    Both are directory counts a real object store handles, and every
    block's pruned read stays O(its own band keys) files of bounded size.
    """
    n = 16
    while n < (1 << 20) and expected_rows > n * rows_per_shard:
        n <<= 1
    return n


class _DrainWriter:
    """The exactly-once `foreachBatch` skeleton every `_*StreamWriter`
    shares: Structured Streaming re-delivers a failed micro-batch
    ("block") under the same batch id, so batch-id-keyed idempotent
    commits make the sink exactly-once.  The block lifecycle:

    - **Txn ids** are `<writer_id>:<batch_id>`, and `stream` passes the
      checkpoint path as `writer_id`.  It is stable
      across restarts of the SAME stream, so a replayed batch finds its
      own commits, and distinct for a NEW stream, whose batch ids
      restart at 0 — a bare batch id would make a new run over an
      existing durable store silently swallow its first batches as
      replays.
    - **One txn read.** `process` is the only place that asks the txlog
      about the batch's txn: it checks every table the writer commits
      to, in commit order (`_commit_order`).  A batch every table
      already holds is a fully committed replay: it returns with zero
      Spark jobs.  Otherwise the subclass's `_process(block, batch_id,
      txn)` runs, knowing the txn is uncommitted in every table past
      the committed prefix, so its publishes `append(..., txn=txn)`
      without asking again (the ANN/IVFPQ writers publish through the
      batch index helpers, which keep their own check).  `_resumed` is
      True when that prefix is non-empty: a half-committed retry of a
      two-table writer, whose store holds the txn and whose out table
      does not.
    - **One pin rule.** A block reads the store at `_pin(txn)`: the
      current version, or on a half-committed retry the version just
      before the batch's own store commit, so the retry re-derives
      exactly what its first attempt derived.
    - **One cache scope.** `_cache(df)` persists a frame for the rest of
      the batch; `process` unpersists every cached frame once `_process`
      returns or raises, so a failed batch never leaks cached blocks
      into its retry.
    - **One store→out publish.** A two-table writer (`_publish_pair`)
      stages the store rows and the out rows concurrently, then commits
      the store, then the out table.  Nothing is committed if either
      staging fails, and whatever either side staged is discarded.  A
      death between the two commits leaves the half-committed state
      the pin rule resumes from; a resumed batch only appends out.
      Single-table writers commit once (`_publish_group` for the
      group-commit stores).
    - **Block planning.** A block is small, so what it costs is fixed
      per block: planning and Spark jobs, not rows.  Two rules keep that
      cost small.  (1) Adaptive execution is off in the block's session
      (`block.sparkSession`: the streaming query's own clone of the
      caller's session), because on block-sized inputs it only turns
      every query stage into a Spark job of its own; block exchanges run
      `spark.sql.shuffle.partitions` tasks instead of coalescing.  The
      block's reads and local frames use that session (`_session`);
      `maintain()` and the reader methods keep `self.spark` and its
      AQE.  The setting is restored when the block ends, so a block
      handed to `process` directly in the caller's session leaves it
      as it was.  (2) Static column expressions (projections, keys,
      shard and hash columns, window specs) are built once per writer,
      not per block, and literal lists cross py4j through
      `functions.literals` in a constant number of calls.
    - **Maintenance.** `maintain()` runs after every `compact_every`-th
      batch (or on demand).  The default rewrites the state table (the
      first in commit order) to one file per `shard` directory — layout-
      preserving, so `read_where` pruning survives — since a forever
      stream otherwise accumulates one file per touched shard per block.
      It then folds the txn ledger to per-writer batch watermarks (sound
      because foreachBatch batch ids are monotonic and retries
      sequential), prunes the folded commit files and vacuums replaced
      data files, so the per-batch txn checks, the log and the disk stay
      bounded.  Optimize publishes one atomic replace commit, and folded
      txns still answer the txn check, so idempotence survives it.
      `maintain()` is safe ONLY between fully committed batches: the
      fold forgets which commit recorded a txn, and a half-committed
      retry needs that commit to find its pin (`_pin` raises instead of
      guessing).  An out table is never compacted here — it is the
      pipeline's product and grows with the corpus, so its consumer
      compacts it on its own schedule.

    The state table (`self.store`) comes in three families:

    - **Shard-pruned stores** (near-dup, url-dedup, domain-cap, count-min,
      uniq): rows under a namespaced `shard` partition (`_shard_col`); a
      block reads only its touched shards at its pin (`_read_prior`).
    - **One-state stores** (top-k, reservoir, pack-bins): the snapshot
      IS the bounded current state.  A block derives the next state from
      the one it read at version v and publishes it as ONE replace
      commit at exactly v + 1 (`append(..., replaces=v)`) carrying the
      block's txn, so a concurrent writer that committed after the read
      is rejected, never merged.  The log is the generation chain:
      `_latest(version)` is the store read at that version, older states
      stay readable until `maintain()` folds the log, and `maintain()`
      only compacts the one state's files like any other store.
    - **Group-commit stores** (count-min, dyadic, uniq): a block's state
      rows and its out rows (shard `OUT_SHARD`, read back by
      `out_rows()`) publish in ONE commit (`_publish_group`), so there is
      no half-committed retry.  That commit is a CAS on the block's pin
      (`append(..., cas_version=pin)`): a writer that committed after the
      pin is rejected, never missed by the published estimates.

    **The driver mirror.**  Writers that keep committed content on the
    driver (top-k's counts, the dyadic cell grid) anchor it at the table
    version it equals (`_mem_version`, content in `_mem`).  It advances
    only after a commit lands and is re-anchored after `maintain()`,
    whose rewrite keeps the content and only moves the version.  It is
    served only for the version it is anchored at: after another
    writer's commit (a handover, or the winner of a race this writer's
    CAS publish lost) the store has moved past that version, so the
    mirror is rebuilt from the store before it is read again.

    **The entry point.**  `Writer.stream(spark, source, checkpoint=...,
    **options)` builds a writer from the constructor's `options` and
    starts one `availableNow` query that drains `source` through it
    (`start`).  Each public `*_stream` name is that classmethod of its
    writer; the writer classes themselves (or their public aliases) are
    what tests drive with `process(block, batch_id)` and what readers
    build over a drained store.
    """

    #: attributes holding the tables a batch commits to, in commit order
    _commit_order: tuple[str, ...] = ("store",)
    #: run `maintain()` after every `compact_every`-th batch (None: never)
    compact_every: int | None = None
    #: a group-commit store's shard of published out rows, and the
    #: columns `out_rows()` returns
    OUT_SHARD = "o"
    _out_cols: tuple[str, ...] = ()
    #: the driver mirror (see the class docstring; None: no mirror)
    _mem_version: int | None = None
    _mem = None

    def __init__(self, spark, writer_id: str):
        self.spark = spark
        self.writer_id = writer_id
        self._session = spark

    def _tables(self) -> list[TransactionalTable]:
        return [getattr(self, name) for name in self._commit_order]

    def process(self, block: DataFrame, batch_id: int) -> None:
        txn = f"{self.writer_id}:{batch_id}"
        # commit order, short-circuited: a later table never holds the
        # txn unless every earlier one does
        self._resumed = False
        for table in self._tables():
            if not table.txn_committed(txn):
                break
            self._resumed = True
        else:
            return  # fully committed replay
        # a caller driving `_process` with frames of its own may pass no
        # block: it plans in the writer's session
        session = getattr(block, "sparkSession", self.spark)
        aqe = session.conf.get(_AQE)
        session.conf.set(_AQE, "false")
        self._session, self._cached = session, []
        try:
            self._process(block, batch_id, txn)
        finally:
            for df in self._cached:
                df.unpersist()
            session.conf.set(_AQE, aqe)
            self._session = self.spark
        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            self.maintain()

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        raise NotImplementedError

    def _cache(self, df: DataFrame) -> DataFrame:
        """`df` persisted until the end of this batch's `_process`."""
        self._cached.append(df.persist())
        return df

    def _pin(self, txn: str) -> int:
        """The store version this batch reads at (the class docstring's
        pin rule)."""
        if not self._resumed:
            return self.store.version()
        v = self.store.txn_version(txn)
        if v is None:
            raise RuntimeError(
                f"{self.store.path}: txn {txn} is committed but its "
                "commit was folded away — cannot reconstruct the "
                "pre-append snapshot a half-committed retry needs "
                "(run maintain() only between fully-committed batches)"
            )
        return v - 1

    def maintain(self) -> None:
        store = self._tables()[0]
        if self._mem_version != store.version():
            self._mirror()  # stale: another writer has committed since
        self._compact(store)
        if self._mem_version is not None:
            self._mem_version = store.version()  # re-anchor the mirror

    def _compact(self, table: TransactionalTable, **optimize_kwargs) -> None:
        """The maintenance tail; a no-op for a table with no commits.  A
        table whose commits name no data file (a partitioned write of an
        empty block leaves none) has nothing to rewrite, but its log is
        still folded."""
        if table.version() < 0:
            return
        if table.data_files():
            table.optimize(self.spark, **optimize_kwargs)
        table.checkpoint(compact_txn_watermarks=True)
        table.prune_log()
        table.vacuum()

    def _mirror(self, version: int | None = None, content=None) -> None:
        """Anchor the driver mirror at a committed version (no version:
        drop it)."""
        self._mem_version, self._mem = version, content

    def _latest(self, version: int | None = None) -> DataFrame | None:
        """A one-state store's state at `version` (the newest when None),
        or None when nothing is committed at or below it."""
        try:
            return self.store.read(self._session, version)
        except FileNotFoundError:
            return None

    def _newest(self, what: str) -> DataFrame:
        """The newest state's rows; raises when nothing is committed."""
        latest = self._latest()
        if latest is None:
            raise FileNotFoundError(f"no {what} committed yet in {self.store.path}")
        return latest

    @staticmethod
    def _shard_col(prefix: str, expr, n: int):
        """A namespaced shard value: `prefix` + pmod(expr, n)."""
        return F.concat(F.lit(prefix), F.pmod(expr, F.lit(n)).cast("string"))

    def _read_prior(self, shards, pin: int, schema) -> DataFrame:
        """The store's `shard` partitions `shards` at the pinned version.
        With no commits at/below the pin this is an INDEPENDENT empty
        frame of `schema`: one derived from the block would alias a later
        join's two sides to one lineage (ambiguous references).  Its
        `limit(0)` lets the optimizer fold it to an empty local relation
        and prune the union or join branch it feeds.  Only the
        txlog's FileNotFoundError means "nothing yet" — any other read
        error (corrupt or vanished committed files) fails the batch
        instead of deduping or counting against nothing."""
        try:
            return self.store.read_where(self._session, "shard", shards, version=pin)
        except FileNotFoundError:
            return self._session.createDataFrame([], schema).limit(0)

    def out_rows(self, version: int | None = None) -> DataFrame:
        """A group-commit store's published per-block rows (`_out_cols`)
        at a committed version: its `OUT_SHARD` partition."""
        return self.store.read_where(
            self.spark, "shard", [self.OUT_SHARD], version=version
        ).select(*self._out_cols)

    def _publish_group(self, txn: str, pin: int, *parts: DataFrame) -> None:
        """A group-commit store's publish: the block's state rows and out
        rows union into ONE staged write and ONE commit record.  Every
        file carries the unified column set (the other rows' columns
        NULL), so no read ever needs schema merging.  The commit is a CAS
        on the block's pin: its out rows were derived from the snapshot
        at `pin`, so a commit from another writer that lands between the
        pin and the publish fails the batch with `ConcurrentWriteError`
        instead of publishing estimates that silently miss that commit."""
        unified = functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        self.store.append(
            unified.repartition(F.col("shard")),
            txn=txn,
            partition_by="shard",
            cas_version=pin,
        )

    def _publish_pair(
        self,
        txn: str,
        store_df: DataFrame,
        out,
        partition_by: str | None = "shard",
        replaces: int | None = None,
    ) -> None:
        """A two-table writer's publish: the store rows stage on a side
        thread while `out()` builds and stages the out rows on this one,
        then the store commits (a replace of snapshot `replaces` when
        given), then the out table.  Staged files are reader-invisible
        until a commit names them, so only commit order carries the
        crash-window argument and the two staging jobs overlap.  The
        side thread inherits this thread's local properties, so its
        staging job runs in the block's job group (a stopped query
        cancels it with the rest of the block)."""
        if self._resumed:
            self.out.append(out(), txn=txn)
            return
        side: list = []  # the store's staged files, or its error

        def stage_store() -> None:
            try:
                side.append(self.store.stage_for_append(store_df, partition_by))
            except BaseException as e:  # re-raised after the join
                side.append(e)

        thread = InheritableThread(target=stage_store, daemon=True)
        thread.start()
        staged_out: list[str] = []
        try:
            try:
                staged_out = self.out.stage_for_append(out())
            finally:
                # a retry must never overlap this batch's staging job
                thread.join()
            if isinstance(side[0], BaseException):
                raise side[0]
        except BaseException:
            # nothing committed: reclaim whatever either side staged
            self.out.discard_staged(staged_out)
            if isinstance(side[0], list):
                self.store.discard_staged(side[0])
            raise
        try:
            self.store.commit_staged(
                side[0], txn=txn, partition_by=partition_by, replaces=replaces
            )
        except BaseException:
            self.out.discard_staged(staged_out)
            raise
        self.out.commit_staged(staged_out, txn=txn)

    def start(self, source: DataFrame, checkpoint: str):
        """Drain everything available in `source` through `process`."""
        return (
            source.writeStream.foreachBatch(self.process)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )

    @classmethod
    def stream(cls, spark, source: DataFrame, *, checkpoint: str, **options):
        """Drain `source` through a new writer built from the constructor's
        `options`, keyed by `checkpoint` (the class docstring's entry
        point); returns the started query."""
        return cls(spark, writer_id=checkpoint, **options).start(source, checkpoint)


class _NearDupStreamWriter(_DrainWriter):
    """foreachBatch body shared by the MinHash and embedding near-dup
    streams: continuous near-duplicate filtering of an unbounded feed
    against an accumulating, BUCKET-PRUNED signature store.  A subclass
    builds its block projection `_payload` (id, payload, bkeys
    array<string>) and its exact `_verify` predicate once per writer.

    Semantics: a document survives iff NO earlier-id document anywhere
    in the stream is a verified near-duplicate — "earlier" is the
    document id, so feed blocks in id order for the cross-block
    decisions to be final (the gate fixture does; out-of-order arrival
    would need a compaction pass over `out_dir`, the same
    reconciliation any streaming dedup with late data needs).
    Survivors land in the transactional table at `out_dir`: read it
    with `TransactionalTable(out_dir).read(spark)`, never as plain
    parquet — the directory can also hold files no commit names (an
    orphan of a failed stage, or files `optimize()` replaced that
    `vacuum()` has not reclaimed yet), which only the commit log
    filters out.

    Store layout: ONE transactional table `store/` written through
    `sources/txlog.py`, holding both row kinds under a namespaced shard
    partition column:

      shard=b<n>  band rows     (id, bkey, payload=NULL),  n = hash(bkey) % B
      shard=p<n>  payload rows  (id, bkey=NULL, payload),  n = hash(id)  % P

    where `bkey` is the LSH bucket key ("band:minhash-slice" /
    "table:rp-bucket") and `payload` is what exact verification needs
    (shingle set / normalized vector).  One table means one staged write
    and ONE commit publishes a block's bands AND payloads atomically — a
    two-table form pays two write jobs + two commits per block and
    briefly exposes bands without their payloads to concurrent readers.
    The namespaced shard value keeps `read_where` pruning exact per row
    kind: a band read touches only `shard=b*` dirs that collide, a
    payload read only the candidate `shard=p*` dirs.  Per block:

      1. compute the block's (id, payload, bkeys) once — same codegen
         expressions as the batch operators, so the stream makes exactly
         the batch pair-finder's decisions — and stage its band and
         payload rows as the store side of `_publish_pair`;
      2. meanwhile, as the out side: read ONLY the store's colliding
         band shards at the pin (`TransactionalTable.read_where` prunes
         driver-side off the commit log: O(matching buckets) files,
         however big the store), band-equality candidate join (block vs
         pruned store + earlier in-block ids), read ONLY the candidate
         ids' payload shards at the pin, verify exactly (Jaccard /
         cosine) and stage the survivors;
      3. commit the store, then the survivors.

    Every read is pinned, so the concurrent store staging changes wall
    time, not plans.  Multi-writer note: a CONCURRENT writer's commit
    landing after the pin is invisible to this block's candidate reads,
    so cross-writer suppression is best-effort within one block
    (fail-safe direction — a near-dup is KEPT, never wrongly dropped)
    and converges on the next block's fresh pin.  The store keeps EVERY
    seen id's rows: dropped docs still suppress future copies of their
    cluster.

    The two `.first()` per block collect DISTINCT SHARD IDS — sets
    bounded by the constant shard counts B and P, never by data size: the
    same bounded-driver-action class as the IVF memoized count.

    Scale: per-block work is O(block + colliding buckets), so a stream
    that has already ingested 100 TB pays the same per block as one that
    ingested 1 GB.  Shard counts are constructor params; production
    would size B/P in the thousands (one partition dir each ~ a few GB
    of store), tests use small values.  `expected_corpus_rows` sizes
    both for the corpus the stream is expected to accumulate
    (`shards_for_store`; the band side holds `band_rows` rows per
    document, the payload side one), overriding `band_shards` and
    `id_shards`: pass it in production (`tools/scale_rehearsal.py`
    drives the >= 1k-shard regime it produces).  Both store reads go through
    `_read_prior`, so a corrupt store fails the batch.
    """

    _commit_order = ("store", "out")

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        id_col: str,
        band_rows: int,
        band_shards: int = 16,
        id_shards: int = 8,
        compact_every: int | None = None,
        writer_id: str = "",
        out_files: int | None = None,
        expected_corpus_rows: int | None = None,
    ):
        super().__init__(spark, writer_id)
        if expected_corpus_rows is not None:
            band_shards = shards_for_store(expected_corpus_rows * band_rows)
            id_shards = shards_for_store(expected_corpus_rows)
        self.id_col = id_col
        self.band_shards = band_shards
        self.id_shards = id_shards
        self.compact_every = compact_every
        self.out_files = out_files
        self.out = TransactionalTable(out_dir)
        self.store = TransactionalTable(os.path.join(store_dir, "store"))

    def _signatures(self, block: DataFrame) -> DataFrame:
        """The frame `_payload` projects (the block itself by default)."""
        return block

    def read_store_bands(self, version: int | None = None) -> DataFrame:
        """All band rows of the store snapshot (test/inspection helper)."""
        return self.store.read(self.spark, version).filter(
            F.col("shard").startswith("b")
        ).select("id", "bkey")

    def read_store_payloads(self, version: int | None = None) -> DataFrame:
        """All payload rows of the store snapshot (test/inspection helper)."""
        return self.store.read(self.spark, version).filter(
            F.col("shard").startswith("p")
        ).select("id", "payload")

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        sigs_b = self._cache(self._signatures(block).select(*self._payload))
        banded_b = sigs_b.select(
            "id", F.explode("bkeys").alias("bkey")
        ).withColumn(
            "shard", self._shard_col("b", F.xxhash64("bkey"), self.band_shards)
        )
        # Align the write's task partitioning with the shard layout:
        # without it, every one of the block's N tasks writes a sliver
        # into every shard directory (N x shards tiny files PER BLOCK —
        # measured 512/block on the gate fixture), and each later block's
        # pruned read pays for all of them.  Hash-partitioning on the
        # shard column lands each shard in exactly one task -> one file
        # per touched shard per commit, the file granularity the store's
        # O(colliding buckets) read contract assumes.
        store_rows = banded_b.select(
            "id", "bkey", F.lit(None).cast(_pay_type(sigs_b)).alias("payload"), "shard"
        ).unionByName(
            sigs_b.select(
                "id",
                F.lit(None).cast("string").alias("bkey"),
                "payload",
                self._shard_col("p", F.xxhash64("id"), self.id_shards).alias(
                    "shard"
                ),
            )
        ).repartition(F.col("shard"))
        pin = self._pin(txn)

        def survivors() -> DataFrame:
            # bounded driver action: <= band_shards distinct names
            block_shards = (banded_b.agg(F.collect_set("shard")).first()[0]) or []
            store_bands = self._read_prior(
                block_shards, pin, banded_b.select("id", "bkey").schema
            )
            earlier_bands = store_bands.select("id", "bkey").unionByName(
                banded_b.select("id", "bkey")
            )
            cand = self._cache(
                banded_b.alias("b")
                .join(
                    earlier_bands.alias("a"),
                    on=[
                        F.col("a.bkey") == F.col("b.bkey"),
                        F.col("a.id") < F.col("b.id"),
                    ],
                )
                .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
                .distinct()
            )
            # bounded driver action: <= id_shards distinct shard names.
            # The payload shards to read are those of CANDIDATE ids, which
            # only exist after the band-pruned store read; this collect is
            # also the job that materializes the cached candidate join
            # `dropped` reuses.
            cand_shards = (
                cand.agg(
                    F.collect_set(
                        self._shard_col("p", F.xxhash64("id_a"), self.id_shards)
                    )
                ).first()[0]
            ) or []
            store_pay = self._read_prior(
                cand_shards, pin, sigs_b.select("id", "payload").schema
            ).select("id", "payload")
            earlier_pay = store_pay.unionByName(sigs_b.select("id", "payload"))

            dropped = (
                cand.join(earlier_pay.alias("pa"), cand.id_a == F.col("pa.id"))
                .join(
                    sigs_b.select("id", "payload").alias("pb"),
                    cand.id_b == F.col("pb.id"),
                )
                .filter(self._verify)
                .select(F.col("id_b").alias(self.id_col))
                .distinct()
            )
            kept = block.join(dropped, self.id_col, "left_anti")
            # survivors inherit the block's task layout — for a micro-
            # batch that is N mostly-tiny files per commit.  `out_files`
            # coalesces the commit (fewer files for the consumer + fewer
            # fsyncs; wall measured neutral at gate scale — the win is
            # the file count).  None keeps the source layout — the right
            # default for large blocks, because coalesce() propagates UP
            # the final stage and would throttle the anti-join itself to
            # `out_files` tasks.
            return kept if self.out_files is None else kept.coalesce(self.out_files)

        self._publish_pair(txn, store_rows, survivors)


class _MinHashStreamWriter(_NearDupStreamWriter):
    """Streaming MinHash-LSH near-duplicate dedup — the streaming twin of
    `dedup.minhash_lsh_pairs`, and the filter a continuously-ingesting
    training-data pipeline actually runs (batch dedup of a 100 TB corpus
    is a rebuild; this keeps the corpus clean as it grows).  Payload =
    the shingle set, bkey = "band:minhash-slice"; the band keys are the
    batch `band_keys_array`, so both bucket identically."""

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_perm: int = 12,
        bands: int = 4,
        shingle_n: int = 3,
        threshold: float = 0.5,
        **store,
    ):
        from apache_kafka_clickhouse_demo_spark.operators.dedup import (
            _minhash_cols,
            band_keys_array,
            jaccard_of,
        )

        super().__init__(spark, out_dir, store_dir, id_col, bands, **store)
        self._sig_cols = _minhash_cols(text_col, id_col, num_perm, shingle_n)
        # "band:key" strings collide iff (band, band_key) pairs collide —
        # identical bucketing to the batch band_key_rows
        bkeys = F.transform(
            band_keys_array(num_perm, bands),
            lambda k, i: F.concat(i.cast("string"), F.lit(":"), k),
        )
        self._payload = [
            F.col("doc_id").alias("id"),
            F.col("shingles").alias("payload"),
            bkeys.alias("bkeys"),
        ]
        self._verify = jaccard_of("pa.payload", "pb.payload") >= threshold

    def _signatures(self, block: DataFrame) -> DataFrame:
        from apache_kafka_clickhouse_demo_spark.operators.dedup import (
            _minhash_signatures,
        )

        return _minhash_signatures(block, self._sig_cols, self._cache)


class _EmbeddingStreamWriter(_NearDupStreamWriter):
    """Streaming embedding near-dup dedup — the cosine sibling of the
    MinHash stream: each arriving block is multi-table RP-LSH bucketed
    against an accumulating store of normalized vectors, bucket
    collisions are verified with the exact cosine, and a vector with any
    verified earlier-id partner is dropped.  Same LSH tables,
    hyperplanes, and threshold as the batch
    `dedup.embedding_near_dup_pairs`, so the stream makes exactly the
    batch pair-finder's decisions (payload = the normalized vector,
    computed ONCE at arrival; bkey = "table:rp-bucket")."""

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        threshold: float = 0.9,
        dim: int = 64,
        num_tables: int = 8,
        planes_per_table: int = 4,
        seed: int = 101,
        **store,
    ):
        from apache_kafka_clickhouse_demo_spark.functions import vectors as V
        from apache_kafka_clickhouse_demo_spark.operators.similarity import (
            rp_bucket,
            rp_hyperplanes,
        )

        super().__init__(spark, out_dir, store_dir, id_col, num_tables, **store)
        buckets = F.array(
            *[
                rp_bucket(F.col(vec_col), rp_hyperplanes(planes_per_table, dim, seed + t))
                for t in range(num_tables)
            ]
        )
        bkeys = F.transform(
            buckets,
            lambda b, t: F.concat(t.cast("string"), F.lit(":"), b.cast("string")),
        )
        self._payload = [
            F.col(id_col).alias("id"),
            V.normalize(vec_col).alias("payload"),
            bkeys.alias("bkeys"),
        ]
        self._verify = V.dot("pa.payload", "pb.payload") >= threshold


#: the writers, exposed for direct `process(block, batch_id)` testing
#: (retry idempotence, pruning asserts) without a streaming query
minhash_stream_writer = _MinHashStreamWriter
embedding_stream_writer = _EmbeddingStreamWriter
minhash_dedup_stream = _MinHashStreamWriter.stream
embedding_dedup_stream = _EmbeddingStreamWriter.stream


def streaming_sessions(
    source: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked streaming sessionization: Spark's native
    `session_window` merges a user's events whenever they arrive within
    `gap` of the session's current end — the streaming twin of the batch
    lag+running-sum sessionization (`queries.q_user_sessions`, same
    inactivity-gap semantics).

    Append mode emits each session exactly once, when the watermark passes
    gap past its last event — which is what makes this viable on an
    unbounded feed: state per user is one open session, closed sessions
    leave the store.  `delay` bounds how late an event may arrive and
    still extend its session; later ones are dropped (the watermark
    contract every streaming aggregation makes)."""
    return (
        source.withWatermark(ts_col, delay)
        .groupBy(F.col(user_col), F.session_window(ts_col, gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (
                F.unix_millis(F.max(ts_col)) - F.unix_millis(F.min(ts_col))
            ).alias("duration_ms"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "duration_ms",
        )
    )


def running_funnel(
    source: DataFrame,
    key_col: str,
    ts_col: str,
    steps: list,
    window_seconds: int,
):
    """Streaming windowFunnel: per-key max funnel depth maintained across
    micro-batches via `applyInPandasWithState` — the stateful-streaming
    twin of `operators/funnel.window_funnel`, for dashboards that watch
    conversion live instead of recomputing the batch fold per refresh.

    State per key is the fold's accumulator alone — `len(steps)` chain
    -start longs, CONSTANT-size regardless of how many events the key has
    ever produced — so an unbounded feed holds O(keys) state, the same
    contract as `running_totals`.  Each batch folds its arrivals in
    encoded-tick order (`funnel.tick_expr`: identical chain decisions to
    the batch operator) and emits the key's current depth in update mode.

    Ordering contract: the greedy fold is arrival-order-sensitive across
    batches (within a batch it sorts).  Feed each key's events in
    non-decreasing timestamp order for exact batch parity — the
    same in-order contract the near-dup streams document; the fold IS
    idempotent to duplicate (ts, step) deliveries (max-updates), so
    at-least-once replays of in-order data do not change depths.
    """
    from apache_kafka_clickhouse_demo_spark.operators import funnel as BF

    n = len(steps)
    if not 1 <= n <= BF._TICK_BASE:
        raise ValueError(f"1..{BF._TICK_BASE} steps supported, got {n}")
    window_us = int(window_seconds) * 1_000_000

    out_schema = T.StructType(
        [
            T.StructField("k", source.schema[key_col].dataType),
            T.StructField("funnel_level", T.IntegerType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField(f"s{j}", T.LongType()) for j in range(n)]
    )

    def update(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState):
        acc = list(state.get) if state.exists else [-1] * n
        ticks: list[int] = []
        for pdf in pdfs:
            ticks.extend(int(t) for t in pdf["tick"].dropna())
        for t in sorted(ticks):
            step = t % BF._TICK_BASE
            us = t >> BF._TICK_SHIFT
            if step == 0:
                acc[0] = max(acc[0], us)
            elif step < n and acc[step - 1] >= 0 and us - acc[step - 1] <= window_us:
                acc[step] = max(acc[step], acc[step - 1])
        state.update(tuple(acc))
        depth = max((j + 1 for j in range(n) if acc[j] >= 0), default=0)
        yield pd.DataFrame({"k": [key[0]], "funnel_level": [depth]})

    ticks = source.select(
        F.col(key_col).alias("k"), BF.tick_expr(ts_col, steps).alias("tick")
    ).filter(F.col("tick").isNotNull())
    return ticks.groupBy("k").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class _TopKStreamWriter(_DrainWriter):
    """Streaming `topK`: ONE global Misra-Gries heavy-hitters summary of
    an unbounded feed in a transactional store — the streaming twin of
    `operators/sketches.heavy_hitters_topk`, with the same exactness
    contract and error bound.  Pass `weight_col` (an integer column of
    the feed) for the topKWeighted twin.  Read the current answer any
    time with `topk_stream_writer(...).topk(k)`.

    Per block:

      1. distributed fold of the block's values into per-task capacity-C
         summaries (`sketches._mg_partition` — the batch operator's exact
         fold; <= C+1 rows per task however large the block);
      2. merge-and-trim DRIVER-side: ONE bounded collect of the fold
         output, then merge into the committed-state mirror, take the
         (C+1)-th largest merged count as the trim subtrahend, trim and
         fold the error total — all integer Python, bit-identical to a
         distributed groupBy/orderBy merge.  The collect is
         <= (tasks + 1) x (C + 1) rows by the MG per-task invariant; past
         `DRIVER_MERGE_MAX_TASKS` tasks (a wide production block, where
         that collect could exhaust the driver) the summaries are first
         re-summed per value DISTRIBUTEDLY, which drops the
         multiplicity factor while changing nothing (the
         driver merge sums per value anyway; the single trim still
         happens once, on the fully merged counts);
      3. publish the new summary as ONE replace commit of the snapshot
         the merge read, under the batch txn (`_DrainWriter`'s one-state
         family) — the snapshot is only the current summary, so a read
         stays O(C) after any number of batches.  `maintain()` (or
         `compact_every`) folds the log and reclaims replaced files.

    Exactness contract matches the batch operator: while the stream's
    total distinct values fit in C no trim ever fires and the summary IS
    the exact counts; beyond that, undercount <= n / (C + 1).

    Concurrency contract: ONE live writer per store (the foreachBatch
    model; retries of a batch are sequential) — and ENFORCED: each
    publish replaces exactly the version the merge read, so of two
    concurrent writers racing from the same snapshot exactly one commits
    and the other fails its batch with `ConcurrentWriteError` — never a
    summary that silently drops the other's counts.  Sequential writer
    HANDOVER (a new stream run, fresh writer_id, batch ids restarting at
    0) is the supported restart path and is pinned by test: the new run
    reads the store's current summary, whatever its batch ids.
    """

    #: above this many block tasks, the per-task MG summaries are
    #: re-summed per value distributedly BEFORE the driver collect (the
    #: raw collect is (tasks+1)x(C+1) rows — fine for micro-batch task
    #: counts, a driver-OOM hazard for a thousands-of-tasks block at the
    #: 100 TB target).  The pre-reduce is a plain
    #: partial-aggregating groupBy, so it is bit-identical (the driver
    #: merge sums per value anyway) and the one trim still happens once
    #: on the fully merged counts — a distributed per-partition trim
    #: would NOT be (different subtrahends), which is why the reduction
    #: is a sum, never a second MG fold.
    DRIVER_MERGE_MAX_TASKS = 32

    def __init__(
        self,
        spark,
        store_dir: str,
        col: str,
        capacity: int = 1 << 14,
        compact_every: int | None = None,
        writer_id: str = "",
        weight_col: str | None = None,
    ):
        super().__init__(spark, writer_id)
        self.col = col
        self.capacity = capacity
        self.compact_every = compact_every
        # weighted twin (topKWeighted): the block fold increments by the
        # named integer column instead of 1; summaries, merge-and-trim,
        # publish, and the read tail are IDENTICAL — a weighted stream is
        # the unweighted stream with each row repeated `weight` times, so
        # every store/exactness/concurrency contract above carries over
        self.weight_col = weight_col
        self.store = TransactionalTable(store_dir)

    def _latest_local(self) -> tuple[dict[str, int], int, int]:
        """(counts {value: count_lb}, trim-error total, snapshot version)
        of the committed summary.  The counts are the mirror's content
        (<= capacity+1 entries by the MG invariant), rebuilt by ONE
        bounded collect of the store when missing."""
        snap_v = self.store.version()
        if self._mem is None or self._mem_version != snap_v:
            prev = self._latest(snap_v)
            counts: dict[str, int] = {}
            err = self._fold(counts, 0, [] if prev is None else prev.collect())
            self._mirror(snap_v, (counts, err))
        return (*self._mem, snap_v)

    @staticmethod
    def _fold(counts: dict[str, int], err: int, rows) -> int:
        """Add MG summary rows into `counts`; returns the new trim-error
        total."""
        for r in rows:
            err += int(r["trim_err"])
            if r["value"] is not None:
                counts[r["value"]] = counts.get(r["value"], 0) + int(r["count_lb"])
        return err

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            _SUMMARY_SCHEMA,
            _mg_partition,
            _mgw_partition,
        )

        if self.weight_col is None:
            block_sums = (
                block.select(F.col(self.col).cast("string").alias("value"))
                .mapInPandas(_mg_partition(self.capacity), _SUMMARY_SCHEMA)
            )
        else:
            block_sums = (
                block.select(
                    F.col(self.col).cast("string").alias("value"),
                    F.col(self.weight_col).cast("long").alias("w"),
                )
                .mapInPandas(_mgw_partition(self.capacity), _SUMMARY_SCHEMA)
            )
        # ONE bounded collect (<= (tasks + 1) x (capacity + 1) rows by
        # the MG per-task invariant): the block-scale fold stays
        # distributed; the merge-and-trim runs DRIVER-side over the
        # mirrored summary — all-integer, so bit-identical to a
        # distributed groupBy/orderBy form, at two cluster jobs per
        # block (this collect + the staged publish) instead of five.
        # Wide blocks pre-reduce first — see DRIVER_MERGE_MAX_TASKS.
        if block.rdd.getNumPartitions() > self.DRIVER_MERGE_MAX_TASKS:
            block_sums = block_sums.groupBy("value").agg(
                F.sum("count_lb").alias("count_lb"),
                F.sum("trim_err").alias("trim_err"),
            )
        block_rows = block_sums.collect()
        prev_counts, prev_err, snap_v = self._latest_local()
        counts = dict(prev_counts)
        err = self._fold(counts, prev_err, block_rows)
        # (C+1)-th largest merged count = the trim subtrahend (0 when
        # the merged summary already fits)
        if len(counts) > self.capacity:
            sub = sorted(counts.values(), reverse=True)[self.capacity]
        else:
            sub = 0
        trimmed = {v: c - sub for v, c in counts.items() if c - sub > 0}
        new_summary = self._session.createDataFrame(
            [(v, c, 0) for v, c in trimmed.items()]
            + [(None, 0, err + sub)],
            _SUMMARY_SCHEMA,
        )
        # a replace of the snapshot the counts came from: the
        # single-live-writer contract is ENFORCED, not just documented — a
        # concurrent sibling that committed after our read makes this
        # publish raise ConcurrentWriteError (failing the batch loudly)
        # instead of one summary silently dropping the other's counts
        self.store.append(new_summary, txn=txn, replaces=snap_v)
        self._mirror(snap_v + 1, (trimmed, err + sub))

    def topk(self, k: int) -> DataFrame:
        """Current top-k with bounds from the stored summary (same answer
        tail as the batch operator)."""
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            finalize_topk,
        )

        return finalize_topk(self._newest("summary"), k)


#: the stream's writer object, exposed for direct `process(block, id)`
#: testing (retry idempotence) and for `topk(k)` reads of the store
topk_stream_writer = _TopKStreamWriter
heavy_hitters_stream = _TopKStreamWriter.stream


class _ReservoirStreamWriter(_DrainWriter):
    """Streaming uniform k-sample of an unbounded feed — the streaming
    twin of the hash-rank batch samplers (`train_test_split.in_sample` /
    `hash_sample`), kept continuously current as the stream grows, as a
    bottom-k-by-hash sketch in a one-state transactional store.
    With `group_col` (+ the batch salt) this is the STRATIFIED form:
    `sampling.stratified_sample`'s per-group quota maintained at
    ingest, state <= groups * k rows.  Read the current sample any time
    with `reservoir_stream_writer(...).sample()` / `.stratified()`.

    Why bottom-k instead of a classic Vitter reservoir: hashing every
    row's id with the shared deterministic h48 and keeping the k SMALLEST
    hash ranks gives exactly a uniform k-sample of the distinct ids seen
    (any fixed hash order is a uniform random order over the data), is
    MERGEABLE (bottom-k of a union = bottom-k of the parts' bottom-ks —
    the same mergeable-summaries property the Misra-Gries store uses),
    is deterministic across engines (the DuckDB oracle states the sample
    as ORDER BY h48 LIMIT k over the full feed), and makes replays
    idempotent by construction — a re-seen id lands on the same rank.

    Per block: the block's own bottom-k (one TakeOrdered, O(block)),
    merged with the stored sample's <= k rows, re-trimmed to k, and
    published as ONE replace commit of the snapshot it read, under the
    batch txn (the one-state family of `_DrainWriter`: concurrent writers
    rejected, never merged).  Store reads are O(k) after any number of
    batches; `maintain()` folds the log and reclaims replaced files.
    """

    def __init__(
        self,
        spark,
        store_dir: str,
        id_col: str,
        k: int,
        payload_cols: list[str] | None = None,
        compact_every: int | None = None,
        writer_id: str = "",
        salt: str = "sample:",
        group_col: str | None = None,
    ):
        super().__init__(spark, writer_id)
        self.id_col = id_col
        self.k = k
        self.payload_cols = list(payload_cols or [])
        self.compact_every = compact_every
        self.salt = salt
        #: set -> STRATIFIED streaming sample (bottom-k PER GROUP —
        #: the batch `sampling.stratified_sample` quota, maintained at
        #: ingest).  Same mergeable bottom-k algebra per group; state is
        #: <= groups * k rows, and the drained sample equals the batch
        #: statement over the whole feed verbatim (same salt, same
        #: (hash, id) rank rule).
        self.group_col = group_col
        self.store = TransactionalTable(store_dir)

    def _rank(self):
        from apache_kafka_clickhouse_demo_spark.functions import hashing as H

        return H.h48(
            F.concat(F.lit(self.salt), F.col(self.id_col).cast("string"))
        )

    def _bottom_k(self, df: DataFrame) -> DataFrame:
        if self.group_col is None:
            # TakeOrdered: k is a sketch size, never corpus-sized
            return df.orderBy("rank", self.id_col).limit(self.k)
        # per-group trim: the window runs over BLOCK-bounded candidates
        # or the <= groups*k stored sample, never the feed (the
        # block-local-window streaming norm domain_cap established)
        from pyspark.sql import Window as W

        w = W.partitionBy(self.group_col).orderBy("rank", self.id_col)
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .drop("_rn")
        )

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        cols = [self.id_col, *self.payload_cols]
        if self.group_col is not None and self.group_col not in cols:
            cols.append(self.group_col)
        # dedup by id BEFORE the bottom-k trim: duplicate rows
        # of one id inside a single micro-batch (the at-least-once overlap
        # case) would each occupy a k-slot and could displace a genuinely
        # new id whose rank belongs in the feed's true bottom-k
        cand = self._bottom_k(
            block.select(*cols, self._rank().alias("rank")).dropDuplicates(
                [self.id_col]
            )
        )
        snap_v = self.store.version()
        prev = self._latest(snap_v)
        merged = cand if prev is None else prev.unionByName(cand)
        # a row can appear in both the store and a replayed/overlapping
        # feed under at-least-once sources: same id -> same rank, dedup
        # exactly
        sample = self._bottom_k(merged.dropDuplicates([self.id_col]))
        self.store.append(sample, txn=txn, replaces=snap_v)

    def sample(self) -> DataFrame:
        """The current sample (id + payload columns, rank dropped)."""
        return self._newest("sample").drop("rank")

    def stratified(self) -> DataFrame:
        """The current per-group sample in the batch operator's exact
        shape: (group, id, strat_rank 1..k by (hash, id)).  The window
        runs over the <= groups*k stored sample only."""
        from pyspark.sql import Window as W

        if self.group_col is None:
            raise ValueError("stratified() needs a group_col writer")
        latest = self._newest("sample")
        w = W.partitionBy(self.group_col).orderBy("rank", self.id_col)
        return latest.select(
            self.group_col,
            self.id_col,
            F.row_number().over(w).cast("int").alias("strat_rank"),
        )


#: the stream's writer object, exposed for direct `process(block, id)`
#: testing and `sample()`/`stratified()` reads of the store (pass
#: `group_col` + the batch operator's salt for the stratified form)
reservoir_stream_writer = _ReservoirStreamWriter
reservoir_sample_stream = _ReservoirStreamWriter.stream


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    upper: str = "1 hour",
    delay: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: pair each left event with
    every right event of the same key whose timestamp lands in
    [left_ts, left_ts + upper] — attribution's workhorse (click ->
    purchases within the hour), and a join CLASS ClickHouse has no
    streaming story for at all; Spark's state store holds both sides.

    What makes this viable on unbounded feeds is that BOTH pruning bounds
    are derivable: the time-range condition upper-bounds how long a row
    can still find partners, and `delay` bounds event lateness, so each
    side's state is evicted once the other side's watermark passes its
    ts + upper + delay — state is O(rate x (upper + delay)) per side,
    never stream length.  An unconstrained stream-stream join (no time
    bounds) would have to keep EVERY row forever; Spark rejects it in
    append mode for exactly that reason.

    Column names must be disjoint across the two inputs (rename upstream)
    — the standard stream-stream join contract.  Inner join; each match
    is emitted exactly once, EAGERLY — as soon as both rows have arrived
    (watermarks govern state EVICTION, not inner-join emission; only
    outer-join null padding waits for the watermark).  Consequently a
    batch's output is not a finalized window: a late-but-within-delay
    row can add matches for an already-seen timestamp in a later batch.
    """
    l_ = left.withWatermark(left_ts, delay)
    r_ = right.withWatermark(right_ts, delay)
    cond = (
        (F.col(left_key) == F.col(right_key))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.expr(f"{left_ts} + INTERVAL {upper}"))
    )
    return l_.join(r_, cond)


# ---------------------------------------------------------------------------
# Streaming URL-level dedup: the crawl-pipeline twin of
# `dedup.url_dedup` — first-arrival-wins filtering of an unbounded feed
# against an accumulating canonical-URL key store.
# ---------------------------------------------------------------------------


class _UrlDedupStreamWriter(_DrainWriter):
    """Streaming URL-level dedup: continuous EXACT dedup of a crawl feed
    by canonical URL — the streaming twin of `dedup.url_dedup`, and the
    FIRST filter a continuously-crawling training-data pipeline runs
    (cheaper than any content dedup — a re-crawled page drops before it
    is ever shingled) — against ONE transactional key store
    (`shard=<hash(key) % key_shards>` layout; every read is shard-pruned,
    so a block pays O(its own keys) store files however big the store).
    `expected_corpus_rows` sizes `key_shards` for the corpus the stream
    will accumulate (`shards_for_store`; one key row per surviving URL).

    Per block:

    1. Canonicalize row-locally (the same `dedup.url_parts` expressions
       as the batch operator, so stream and batch make identical
       normalization decisions) and reduce to the block-local MIN doc_id
       per key — one aggregate that removes within-block choice
       ambiguity, making every decision deterministic; the key is
       `coalesce(url_norm, 'invalid:' || doc_id)` per the repo's
       degenerate-doc contract (invalid URLs never collapse).
    2. Collect the block's touched shard names (bounded by
       `key_shards`, never by data), read ONLY those shards at the pin,
       and suppress rows whose key exists in the store with a DIFFERENT
       doc_id (the pin already excludes a store-committed retry's own
       rows; the != guard keeps them harmless too).
    3. Publish the survivors' key rows (store) and the survivors (out)
       through `_publish_pair`.

    Semantics: FIRST-ARRIVAL-WINS per canonical URL (what a crawl
    pipeline wants — the first fetch is kept, re-crawls drop).  On an
    id-ordered feed this equals the batch operator's min-id-per-URL
    rule, which is what the oracle checks.
    """

    _commit_order = ("store", "out")

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        url_col: str = "url",
        id_col: str = "doc_id",
        suffixes: tuple[str, ...] = TX_FN.PUBLIC_SUFFIXES,
        key_shards: int = 16,
        writer_id: str = "",
        out_files: int | None = None,
        expected_corpus_rows: int | None = None,
    ):
        super().__init__(spark, writer_id)
        if expected_corpus_rows is not None:
            key_shards = shards_for_store(expected_corpus_rows)
        self.url_col = url_col
        self.id_col = id_col
        self.suffixes = suffixes
        self.key_shards = key_shards
        self.out_files = out_files
        self.out = TransactionalTable(out_dir)
        self.store = TransactionalTable(os.path.join(store_dir, "store"))

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.dedup import url_parts

        parts = url_parts(block, self.url_col, self.id_col, self.suffixes)
        key = F.coalesce(
            F.col("url_norm"),
            F.concat(F.lit("invalid:"), F.col("doc_id").cast("string")),
        )
        # block-local min doc_id per key; struct min is lexicographic on
        # the leading doc_id, so url_norm/reg_domain stay aligned with it
        reduced = self._cache(
            parts.groupBy(key.alias("key"))
            .agg(F.min(F.struct("doc_id", "url_norm", "reg_domain")).alias("m"))
            .select(
                "key",
                F.col("m.doc_id").alias("doc_id"),
                F.col("m.url_norm").alias("url_norm"),
                F.col("m.reg_domain").alias("reg_domain"),
            )
            .withColumn(
                "shard", self._shard_col("", F.xxhash64("key"), self.key_shards)
            )
        )
        pin = self._pin(txn)
        # bounded driver action: <= key_shards distinct names
        touched = (reduced.agg(F.collect_set("shard")).first()[0]) or []
        seen = self._read_prior(
            touched, pin, reduced.select("key", "doc_id").schema
        ).select("key", F.col("doc_id").alias("store_id"))
        # both staging jobs read the survivor join; cached so the pruned
        # read + join run once (block-bounded rows)
        survivors = self._cache(
            reduced.join(seen, "key", "left")
            .filter(
                F.col("store_id").isNull()
                | (F.col("store_id") == F.col("doc_id"))
            )
            .select("key", "doc_id", "url_norm", "reg_domain", "shard")
        )
        out_df = survivors.select("doc_id", "url_norm", "reg_domain")
        if self.out_files is not None:
            out_df = out_df.coalesce(self.out_files)
        # tasks stay aligned with the shard layout like the near-dup
        # writers
        self._publish_pair(
            txn,
            survivors.select("key", "doc_id", "shard").repartition(F.col("shard")),
            lambda: out_df,
        )


url_dedup_stream = _UrlDedupStreamWriter.stream


class _TermIndexStreamWriter(_DrainWriter):
    """Continuously indexed corpus: the streaming twin of
    `search_index.build_term_index`/`extend_term_index`.  Every
    micro-batch of (deduped) documents publishes one atomic inverted-
    index SEGMENT — its postings plus its own meta row
    (`search_index._segment_frames`) — under the batch txn
    (`_DrainWriter`), so a retried batch can never double-publish its
    meta row (doubled corpus stats are exactly the corruption the
    segment model must prevent), and `bm25_lookup` answers over the
    index at any committed version with exact corpus stats.
    `expected_corpus_rows` sizes `n_shards` for the corpus the stream
    will accumulate (vocabulary-side rows; `shards_for_store`).

    Contracts: the feed carries each doc_id ONCE across the stream's
    lifetime (run the URL / exact dedup stages upstream — a re-ingested
    doc would inflate df/tf); the shard modulus is fixed at writer
    construction, and when the index ALREADY exists (stream restart, or
    a stream pointed at a build_term_index output) the STORED modulus is
    read and used — the constructor argument only seeds a brand-new
    index, so every segment routes terms identically by construction.
    Meta rows accumulate one per non-empty batch — a single bounded
    shard that `maintain()` keeps at one FILE; the rows themselves are
    the segment ledger and merge exactly at read.
    """

    _commit_order = ("table",)

    def __init__(
        self,
        spark,
        index_dir: str,
        n_shards: int = 16,
        writer_id: str = "",
        text_col: str = "text",
        id_col: str = "doc_id",
        expected_corpus_rows: int | None = None,
    ):
        super().__init__(spark, writer_id)
        if expected_corpus_rows is not None:
            n_shards = shards_for_store(expected_corpus_rows)
        self.table = TransactionalTable(index_dir)
        self.text_col = text_col
        self.id_col = id_col
        # an EXISTING index's stored modulus is authoritative: trusting
        # the constructor argument would durably commit mis-routed
        # segments (detected only when index_meta's min==max invariant
        # fires on some later read — after the store is corrupted).
        # This covers both stream restarts and pointing a new stream at
        # an index built by build_term_index/another stream.
        if self.table.version() >= 0:
            from apache_kafka_clickhouse_demo_spark.operators.search_index import (
                index_shard_count,
            )

            n_shards = index_shard_count(spark, self.table)
        self.n_shards = n_shards

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.search_index import (
            _segment_frames,
        )

        # an empty micro-batch publishes NOTHING (the class contract is
        # one meta row per NON-empty batch) — a full segment commit with
        # an (n_docs=0, tot_tokens NULL) meta row per idle trigger would
        # grow the meta shard for no information.  Exactly-once is
        # unaffected: a replayed empty batch re-derives the same no-op.
        if block.isEmpty():
            return
        seg = _segment_frames(block, self.n_shards, self.text_col, self.id_col)
        # shard-aligned tasks: one file per touched shard per segment,
        # keeping term_lookup's pruned read at O(segments) files pre-
        # maintenance instead of O(segments x tasks)
        self.table.append(
            seg.repartition(F.col("shard")), txn=txn, partition_by="shard"
        )


term_index_stream = _TermIndexStreamWriter.stream


class _AnnIndexStreamWriter(_DrainWriter):
    """A continuously indexed EMBEDDING corpus — the streaming twin of
    `search_index.build_ann_index`/`extend_ann_index`, and the ANN twin
    of `_TermIndexStreamWriter`; `ann_index_lookup` answers at any
    committed version.  `expected_corpus_rows` sizes the shard modulus
    for the corpus the stream will accumulate (`shards_for_store`);
    `target_centroids` sizes the centroid sample taken from the
    FOUNDING block.

    The first non-empty batch CREATES the index (it is the founding
    segment: the IVF centroids are hash-sampled from it by the shared
    quantizer, sized by `target_centroids`); every later batch is one
    `extend_ann_index` segment assigned against those FIXED centroids.
    Both paths publish through batch-keyed commits, so a retried batch
    can never double-publish its meta row: creation stamps the txn into
    its CAS commit (crash AFTER the commit -> the replay's txn check
    no-ops; two concurrent creators -> one loses the CAS), and extension
    appends its segment under the txn that `process()` already checked.

    Contracts inherited from the batch API: each vec_id arrives ONCE
    across the stream's lifetime (dedupe upstream); centroids are fixed
    at creation, so recall over a drifting corpus degrades and a real
    deployment rebuilds on a schedule — the honest IVF trade, stated in
    `extend_ann_index`.  `n_shards` only seeds creation; an EXISTING
    index's stored modulus and centroids are always adopted (the
    term-index stored-modulus rule).
    """

    _commit_order = ("table",)

    def __init__(
        self,
        spark,
        index_dir: str,
        writer_id: str,
        target_centroids: int | None = None,
        n_shards: int | None = None,
        expected_corpus_rows: int | None = None,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        salt: str = "ivf:",
    ):
        super().__init__(spark, writer_id)
        self.table = TransactionalTable(index_dir)
        self.target_centroids = target_centroids
        if expected_corpus_rows is not None and n_shards is None:
            n_shards = shards_for_store(expected_corpus_rows)
        self.n_shards = n_shards
        self.vec_col = vec_col
        self.id_col = id_col
        self.salt = salt
        #: (n_shards, k) — BOTH creation-fixed by the extend contract,
        #: returned by the first extension and passed back into every
        #: later one (re-deriving them per block would cost two
        #: driver-synchronized jobs).  Safe across THIS writer's
        #: maintenance: optimize preserves rows, and neither value can
        #: change after creation.  An EXTERNAL
        #: `maintain_*_index(recluster=True)` against a live-streamed
        #: index is UNSUPPORTED: it founds a
        #: new centroid generation that can change k, which would leave
        #: this cache stale (assignment stays exact — `_assign_two_level`
        #: is exact for any k — but the two-level/flat switch and
        #: super-centroid sizing would be computed from the wrong k).
        #: Recluster between stream runs; a fresh writer re-derives.
        self._params: tuple[int, ...] | None = None

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        if block.isEmpty():
            return  # idle trigger: publish nothing (the term-index rule)
        if self.table.version() < 0:
            self._found(block, txn)
            return
        seg, self._params = self._extension(block)
        self.table.append(seg, txn=txn, partition_by="shard")

    def _found(self, block: DataFrame, txn: str) -> None:
        # the founding draw counts its own block; `expected_corpus_rows`
        # only sizes the shards (`__init__`)
        from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

        SI.build_ann_index(
            block,
            self.table.path,
            target_centroids=self.target_centroids,
            n_shards=self.n_shards,
            vec_col=self.vec_col,
            id_col=self.id_col,
            salt=self.salt,
            txn=txn,
        )

    def _extension(self, block: DataFrame) -> tuple[DataFrame, tuple[int, ...]]:
        """(segment, params) for one extension block, unpublished."""
        from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

        return SI._ann_extension(
            block, self.table, self.vec_col, self.id_col, self.salt, self._params
        )


ann_index_stream = _AnnIndexStreamWriter.stream


class _IvfPqIndexStreamWriter(_AnnIndexStreamWriter):
    """A continuously indexed IVFPQ corpus — the IVFPQ twin of
    `_AnnIndexStreamWriter`; `ivfpq_index_lookup` answers at any
    committed version.  The first non-empty batch FOUNDS the
    index — IVF centroids AND PQ codebooks hash-sampled from it by the
    shared builders — and every later batch is one `extend_ivfpq_index`
    segment: assigned against the fixed centroids, encoded against the
    fixed codebooks, published atomically under a batch-keyed txn.
    Exactly-once, stored-modulus, and fixed-generation contracts are
    the ANN writer's verbatim; the PQ dimension/pq_m parameters only
    seed creation — an existing index's stored meta always wins.
    `_params` is (n_shards, pq_m, dim, k); `ann` takes the ANN writer's
    other options (its `salt` is `ivf_salt` here)."""

    def __init__(
        self,
        spark,
        index_dir: str,
        writer_id: str,
        dim: int,
        m: int = 8,
        target_codes: int = 64,
        ivf_salt: str = "ivf:",
        pq_salt: str = "pq:",
        **ann,
    ):
        super().__init__(spark, index_dir, writer_id, salt=ivf_salt, **ann)
        self.dim = dim
        self.m = m
        self.target_codes = target_codes
        self.pq_salt = pq_salt

    def _found(self, block: DataFrame, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

        SI.build_ivfpq_index(
            block,
            self.table.path,
            dim=self.dim,
            m=self.m,
            target_codes=self.target_codes,
            target_centroids=self.target_centroids,
            n_shards=self.n_shards,
            vec_col=self.vec_col,
            id_col=self.id_col,
            ivf_salt=self.salt,
            pq_salt=self.pq_salt,
            txn=txn,
        )

    def _extension(self, block: DataFrame) -> tuple[DataFrame, tuple[int, ...]]:
        from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

        return SI._ivfpq_extension(
            block, self.table, self.vec_col, self.id_col, self.salt, self._params
        )


ivfpq_index_stream = _IvfPqIndexStreamWriter.stream


class _DomainCapStreamWriter(_DrainWriter):
    """A continuous per-domain QUOTA over a crawl feed — keep each
    registered domain's first `cap` arrivals, drop everything after (the
    streaming twin of `dedup.domain_cap`; CCNet-style host capping
    applied AT INGEST, so an over-crawled domain stops costing
    downstream stages the moment its quota fills).  It is the stage a
    continuously-crawling pipeline runs right after `url_dedup_stream`.
    `expected_domain_rows` sizes `domain_shards` for the number of
    DISTINCT domains the stream will accumulate (`shards_for_store`; one
    increment row per (block, domain) between maintenances, one file per
    touched shard per block).

    State is a COUNTER store, not a key store: one transactional table of
    (reg_domain, n) increment rows under `shard=d<hash(domain) %
    domain_shards>`, summed per domain at read (the SummingMergeTree
    merge-on-read algebra — maintenance compacts files, never the rows'
    meaning).  Per block:

    1. Canonicalize row-locally (`dedup.url_parts`, the batch operator's
       exact expressions) and rank the block's rows within each domain by
       doc_id (block-local window — bounded by BLOCK size, which is the
       streaming norm; the CORPUS-scale skew safety is that history is a
       per-domain counter, never re-sorted).
    2. Pin the store, read ONLY the block's touched domain shards at the
       pin (bounded by `domain_shards`), sum prior counts per domain, and
       keep rows with `prior + block_rank <= cap` — emitting
       `domain_rank = prior + block_rank`, so on an id-ordered feed the
       output equals the batch operator's rows VERBATIM (the oracle).
    3. Publish the survivors' per-domain increments (store) and the
       survivors (out) through `_publish_pair`.

    Exactly-once under retry is the interesting part: survivors are a
    function of the PRE-APPEND counts, so a batch that died between its
    two commits must re-derive the counts its first attempt saw — the
    current version INCLUDES that attempt's increments, and re-reading it
    would double-count the block against itself and wrongly drop rows the
    first attempt kept.  `_pin` reads at the version before the batch's
    own store commit instead.

    NULL reg_domain rows (unparseable URLs) form ONE group — exactly the
    batch operator's `PARTITION BY reg_domain` NULL semantics — hashed
    under a sentinel for shard routing only; output keeps reg_domain
    NULL.

    ``token_mode=True`` (`domain_token_cap_stream`, whose `budget` is
    `cap`) turns the quota into a TOKEN budget — the streaming twin of
    `dedup.domain_token_cap`, i.e. token-level mixture enforcement AT
    INGEST: each row charges
    greatest(ws_tokens, 1) of `text_col`, the block-local window becomes
    a running charge SUM instead of a row_number, and admission is
    `prior_charge + running_charge <= cap`.  One accounting difference
    from the doc-quota mode is load-bearing for batch parity: the store
    accumulates EVERY seen row's charge, not just survivors' — the
    batch operator's cumsum counts rejected docs' tokens too (doc 4 of
    a domain stays rejected even if doc 3's rejection left budget
    behind), and with charge=1 the two accountings are equivalent only
    because rank-based admission never un-rejects.  Output:
    (doc_id, reg_domain, doc_tokens, cum_tokens) — the batch operator's
    rows VERBATIM on an id-ordered feed (the oracle).
    """

    _commit_order = ("store", "out")

    #: shard-routing sentinel for NULL reg_domain (never a real domain —
    #: contains whitespace and a NUL)
    _NULL_KEY = "\x00 null-domain"

    #: prior-read pushdown cap: blocks with more distinct domains skip
    #: the isin filter (a literal list this size is cheap to analyze;
    #: far past it, building the expression costs more than the scan)
    MAX_PUSHDOWN_DOMAINS = 4096

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        cap: int,
        url_col: str = "url",
        id_col: str = "doc_id",
        suffixes: tuple[str, ...] = TX_FN.PUBLIC_SUFFIXES,
        domain_shards: int = 16,
        writer_id: str = "",
        out_files: int | None = None,
        token_mode: bool = False,
        text_col: str = "text",
        expected_domain_rows: int | None = None,
    ):
        super().__init__(spark, writer_id)
        if cap < 1:
            raise ValueError("cap must be >= 1")
        if expected_domain_rows is not None:
            domain_shards = shards_for_store(expected_domain_rows)
        self.cap = cap
        self.url_col = url_col
        self.id_col = id_col
        self.suffixes = suffixes
        self.domain_shards = domain_shards
        self.out_files = out_files
        self.token_mode = token_mode
        self.text_col = text_col
        self.out = TransactionalTable(out_dir)
        self.store = TransactionalTable(os.path.join(store_dir, "store"))

    def maintain(self) -> None:
        """The default compaction, but shard files are rewritten SORTED
        by reg_domain, so the per-block prior-count read's pushed `isin`
        filter can prune parquet row groups by min/max stats on LARGE
        shard files (measured at a 500x-domain store, SCALING.md:
        1000-domain probe blocks 3.28x -> 2.75x with the pushdown; the
        residual is file-open fan-out — O(min(block domains, shards))
        files — not store size, proven by 20-domain blocks probing the
        same store FLAT at 1.05x)."""
        self._compact(self.store, cluster_cols=["reg_domain"])

    @functools.cached_property
    def _exprs(self) -> types.SimpleNamespace:
        """Every column `_process` uses, built once per writer.  The block
        projection is the batch operators' `url_parts` columns (plus
        `domain_token_cap`'s charge in token mode); the block-local rank
        is a row_number per domain, or in token mode the running CHARGE
        per domain — admission is prior + running <= budget, the batch
        cumsum split at the block boundary."""
        from pyspark.sql import Window as W

        from apache_kafka_clickhouse_demo_spark.operators.dedup import (
            _token_charge,
            _url_parts_cols,
        )

        e = types.SimpleNamespace()
        e.cols = _url_parts_cols(self.url_col, self.id_col, self.suffixes)
        key = F.coalesce(F.col("reg_domain"), F.lit(self._NULL_KEY))
        window = W.partitionBy(key).orderBy("doc_id")
        if self.token_mode:
            e.cols.append(_token_charge(self.text_col).alias("_charge"))
            e.rank = F.sum("_charge").over(
                window.rowsBetween(W.unboundedPreceding, W.currentRow)
            )
        else:
            e.rank = F.row_number().over(window).cast("long")
        e.shard = self._shard_col("d", F.xxhash64(key), self.domain_shards)
        e.domain = F.col("reg_domain")
        e.shard_domain = [F.col("_shard"), e.domain]
        e.null_domain = e.domain.isNull()
        e.prior = F.sum("n").alias("_prior")
        e.on = F.col("r.reg_domain").eqNullSafe(F.col("p.reg_domain"))
        kept = ["doc_id", "url_norm", "reg_domain", "_r", "_shard"]
        extra = ["_charge"] if self.token_mode else []
        e.joined = [
            *(F.col(f"r.{c}").alias(c) for c in kept),
            F.coalesce(F.col("p._prior"), F.lit(0)).alias("_prior"),
            *(F.col(f"r.{c}").alias(c) for c in extra),
        ]
        admitted = F.col("_prior") + F.col("_r")
        e.admit = admitted <= self.cap
        e.domain_rank = admitted.cast("long" if self.token_mode else "int")
        if self.token_mode:
            # EVERY seen row's charge accumulates (see the class
            # docstring's batch-parity argument): the aggregate reads
            # `ranked`, not the survivors
            e.inc = F.sum("_charge").cast("long").alias("n")
            e.out = [
                F.col("doc_id"), e.domain, F.col("_charge").alias("doc_tokens"),
                F.col("domain_rank").alias("cum_tokens"),
            ]
        else:
            e.inc = F.count(F.lit(1)).cast("long").alias("n")
            e.out = [F.col(c) for c in ("doc_id", "url_norm", "reg_domain", "domain_rank")]
        e.store = [F.col("_shard").alias("shard"), e.domain, F.col("n")]
        e.store_part = F.col("shard")
        return e

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.sources.tables import spread_small

        pin = self._pin(txn)
        e = self._exprs
        # token mode projects the block as it arrives, doc mode spreads
        # it first (`url_parts`)
        parts = (block if self.token_mode else spread_small(block)).select(*e.cols)
        # cached: the domain probe, the survivor join and the increments
        # all consume `ranked` — uncached, the canonicalize+window chain
        # would re-run per consumer; block-bounded
        ranked = self._cache(
            parts.withColumns({"_r": e.rank, "_shard": e.shard})
        )
        # ONE bounded driver action: a CAPPED distinct (shard, domain)
        # probe — each domain maps to exactly one shard, so the pair
        # count equals the distinct-domain count, bounded by the MAX+1
        # limit, never by block size (a 250k-literal IN list was measured
        # to hang analysis, so big blocks skip the pushdown instead of
        # building one).  An over-cap block falls back to reading EVERY
        # counter shard — bounded by `domain_shards`, and harmless to the
        # merge: prior domains the block never mentions drop out of the
        # left join.  One partition: a limit's take over many partitions
        # runs a job per partition batch it scans.
        pairs = (
            ranked.select(*e.shard_domain)
            .distinct()
            .coalesce(1)
            .limit(self.MAX_PUSHDOWN_DOMAINS + 1)
            .collect()
        )
        if not pairs:
            # idle trigger: nothing published (a half-committed retry
            # implies the first attempt saw a non-empty block)
            return
        if len(pairs) <= self.MAX_PUSHDOWN_DOMAINS:
            block_shards = sorted({r["_shard"] for r in pairs})
            push = [r["reg_domain"] for r in pairs if r["reg_domain"] is not None]
        else:
            block_shards = [f"d{i}" for i in range(self.domain_shards)]
            push = None
        prior = self._read_prior(block_shards, pin, "reg_domain string, n long")
        if push is not None:
            # with maintain()'s domain-sorted shard files this prunes
            # parquet row groups by min/max stats, so the read decodes
            # the BLOCK's domains, not every domain a shard holds (a
            # shard's row count grows with the TOTAL domain count; the
            # block's does not); the list crosses py4j in O(1) calls
            prior = prior.filter(isin_strings(e.domain, push) | e.null_domain)
        prior = prior.groupBy(e.domain).agg(e.prior)
        joined = (
            ranked.alias("r").join(prior.alias("p"), e.on, "left").select(*e.joined)
        )
        # cached: the increment aggregate and the out append both read
        # the survivor set; block-bounded rows
        survivors = self._cache(
            joined.filter(e.admit).withColumn("domain_rank", e.domain_rank)
        )
        counted = ranked if self.token_mode else survivors
        increments = counted.groupBy(*e.shard_domain).agg(e.inc)
        out_df = survivors.select(*e.out)
        if self.out_files is not None:
            out_df = out_df.coalesce(self.out_files)
        self._publish_pair(
            txn,
            increments.select(*e.store).repartition(e.store_part),
            lambda: out_df,
        )


domain_cap_stream = _DomainCapStreamWriter.stream


def domain_token_cap_stream(spark, source: DataFrame, *, budget: int, **options):
    """`domain_cap_stream` in token mode: `budget` is the per-domain
    token cap (`_DomainCapStreamWriter`)."""
    return domain_cap_stream(spark, source, cap=budget, token_mode=True, **options)


class _CountMinStreamWriter(_DrainWriter):
    """A continuously-maintained count-min sketch over an unbounded feed
    — the streaming twin of `sketches.count_min_build`: per-block
    increments and the running point estimates publish in ONE atomic
    commit per block (estimates read back via `out_rows()`).  CMS
    counters are LINEAR and merge by per-cell sum, which is exactly the
    shape of the `domain_cap_stream` counter store, so the same
    architecture carries over verbatim:

    State is a COUNTER store: one transactional table of (d, bucket, n)
    increment rows under `shard=c<(d*width + bucket) % cms_shards>`,
    summed per cell at read (merge-on-read; maintenance compacts files,
    never meaning).  Per block:

    1. Build the BLOCK's sketch with the batch operator's own core and
       columns (`_count_min_build` over `_cms`, built once per writer —
       provably shared cells/hashes), <=
       depth*width increment rows however large the block, PERSISTED
       and materialized by ONE bounded shard-name collect.
    2. Pin the store, read ONLY the block's touched cell shards at the
       pin (bounded by `cms_shards`), merge prior + block cells, and
       emit per-key running estimates AT INGEST for the block's
       distinct keys — est over everything that has arrived through
       this block (`count_min_lookup` against the merged bounded
       sketch).
    3. ONE atomic publish (`_publish_group`): increments (shard `c*`)
       and the block's estimate rows (shard `o`) in one commit.

    Because counters are linear and the feed's blocks partition the
    corpus, the DRAINED store's merged sketch equals the batch
    `count_min_build` over the whole feed cell-for-cell — the extra
    `stream_cms_counts` hash-checks exactly that (oracle: the batch
    CMS SQL verbatim).
    """

    def __init__(
        self,
        spark,
        store_dir: str,
        key_col: str,
        width: int = 1024,
        depth: int = 4,
        salt: str = "cms:",
        cms_shards: int = 8,
        writer_id: str = "",
    ):
        super().__init__(spark, writer_id)
        if width < 1 or depth < 1:
            raise ValueError("width and depth must be >= 1")
        self.key_col = key_col
        self.width = width
        self.depth = depth
        self.salt = salt
        self.cms_shards = cms_shards
        self.store = TransactionalTable(os.path.join(store_dir, "store"))
        self._out_cols = ("batch_id", key_col, "est")

    @functools.cached_property
    def _exprs(self) -> types.SimpleNamespace:
        """Every column `_process` uses, built once per writer; `cms` is
        the batch operators' own (`sketches._cms`)."""
        from apache_kafka_clickhouse_demo_spark.operators.sketches import _cms

        e = types.SimpleNamespace()
        e.cms = _cms(self.key_col, self.width, self.depth, self.salt)
        cell = F.col("d").cast("long") * self.width + F.col("bucket")
        e.shard = self._shard_col("c", cell, self.cms_shards)
        e.cell = [F.col("d"), F.col("bucket")]
        e.counters = [*e.cell, F.col("n")]
        e.merge = F.sum("n").cast("long").alias("n")
        e.has_key = e.cms.key.isNotNull()
        e.out_shard = F.lit(self.OUT_SHARD).alias("shard")
        e.est = [e.cms.key, F.col("est")]
        e.inc = [F.col("shard"), *e.counters]
        return e

    def merged_sketch(self, version: int | None = None) -> DataFrame:
        """The store's merge-on-read sketch at a committed version:
        (d, bucket, n) with per-cell sums — bounded by depth*width rows,
        directly consumable by `sketches.count_min_lookup`.  The filter
        drops the co-located estimate rows (shard `o`), whose cell
        columns are NULL by the unified-schema construction."""
        return (
            self.store.read(self.spark, version)
            .filter(F.col("d").isNotNull())
            .groupBy("d", "bucket")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            _count_min_build,
            _count_min_lookup,
        )

        pin = self._pin(txn)
        e = self._exprs
        inc = _count_min_build(block, e.cms).withColumn("shard", e.shard)
        # cached, then materialized by ONE bounded collect
        # (<= depth*width rows by construction): the collect is both
        # the empty-block probe and the shard-name list, and leaves the
        # cache populated for the staged write's two branches
        # (increments + the estimate's merge).  The merge itself STAYS
        # distributed — an A/B of the full driver-side merge (local
        # increment + merged-sketch frames re-uploaded per block)
        # measured SLOWER here than the cached cluster plan (~+0.6
        # s/block of LocalTableScan serialization at depth*width=4096),
        # the opposite of the dyadic twin where the upload is ~17
        # estimate rows.
        inc = self._cache(inc)
        inc_rows = inc.select("shard").collect()
        if not inc_rows:
            # all keys NULL: CMS counts non-NULL keys (the batch
            # operator's contract), so there is nothing to count
            # and nothing is published
            return
        block_shards = sorted({r["shard"] for r in inc_rows})
        prior = self._read_prior(
            block_shards, pin, "d int, bucket int, n long"
        ).select(*e.counters)
        merged = (
            prior.unionByName(inc.select(*e.counters)).groupBy(*e.cell).agg(e.merge)
        )
        keys = block.select(e.cms.key).filter(e.has_key).distinct()
        est = _count_min_lookup(merged, keys, e.cms).select(
            e.out_shard, F.lit(batch_id).cast("long").alias("batch_id"), *e.est
        )
        self._publish_group(txn, pin, inc.select(*e.inc), est)


count_min_stream = _CountMinStreamWriter.stream


class _DyadicCmsStreamWriter(_DrainWriter):
    """A continuously-maintained dyadic count-min structure over an
    unbounded feed — the streaming twin of `sketches.dyadic_cms_build`,
    emitting a LIVE value-band histogram at ingest (per-block running
    range counts for the fixed `ranges`, read back via `out_rows()`).
    Pass `ps` (permille fractions) to ALSO publish running quantiles
    per block — the dyadic descent over the same pre-append snapshot +
    block cells, in the same single commit (shard `q`, read back via
    `quantile_rows()`).  Dyadic CMS counters are linear and merge by
    per-cell sum — `_CountMinStreamWriter`'s counter-store architecture
    carries over verbatim with (level, d, bucket) cells:

    1. Build the BLOCK's structure with the batch operator itself
       (`_dyadic_cms_build` over the batch operator's columns, built
       once per writer — provably shared grid), bounded increment
       rows however large the block, then ONE bounded collect
       (<= (bits+1)*depth*width rows by construction) that detects the
       empty block, materializes the persisted grid for the staged
       write, and hands the driver the block cells.
    2. Merge prior + block cells DRIVER-side against the driver mirror
       of the committed grid (`_prior_cells`), and derive the ranges'
       running estimates and the quantile walk in pure integer Python
       (`dyadic_range_counts_py` /
       `dyadic_quantiles_py` — the batch operators' exact rules) instead
       of re-reading prior shards and re-aggregating per block.
    3. ONE atomic publish (`_publish_group`): the increments (shard
       `y*`) and the estimate rows (shard `o`, quantiles `q`) in one
       commit, under a version-CAS on the pin.

    Drained store == the batch structure cell-for-cell (linearity +
    blocks partition the feed), so the final range estimates equal the
    batch `dyadic_range_counts` verbatim — the extra
    `stream_range_counts` hash-checks exactly that, oracle unchanged.
    """

    _out_cols = ("batch_id", "range_id", "lo", "hi", "est")
    #: namespaced shard holding the published running QUANTILE rows
    #: (live p50/p99 at ingest)
    QOUT_SHARD = "q"

    def __init__(
        self,
        spark,
        store_dir: str,
        value_col: str,
        ranges: list[tuple[int, int, int]],
        universe_bits: int = 16,
        width: int = 2048,
        depth: int = 3,
        salt: str = "dcms:",
        cms_shards: int = 8,
        writer_id: str = "",
        ps: list[int] | None = None,
    ):
        super().__init__(spark, writer_id)
        if width < 1 or depth < 1 or not 1 <= universe_bits <= 62:
            raise ValueError("need width, depth >= 1 and 1 <= universe_bits <= 62")
        self.value_col = value_col
        self.ranges = list(ranges)
        self.universe_bits = universe_bits
        self.width = width
        self.depth = depth
        self.salt = salt
        self.cms_shards = cms_shards
        for p_ in ps or []:
            if not 0 < int(p_) <= 1000:
                raise ValueError(f"permille fraction {p_} outside (0, 1000]")
        self.ps = [int(p_) for p_ in ps] if ps else None
        self.store = TransactionalTable(os.path.join(store_dir, "store"))

    @functools.cached_property
    def _exprs(self) -> types.SimpleNamespace:
        """The columns `_process` plans with, built once per writer;
        `dcms` is the batch operator's own (`sketches._dcms`)."""
        from apache_kafka_clickhouse_demo_spark.operators.sketches import _dcms

        e = types.SimpleNamespace()
        e.dcms = _dcms(
            self.value_col, self.universe_bits, self.width, self.depth, self.salt
        )
        cell = (
            F.col("level").cast("long") * self.depth + F.col("d")
        ) * self.width + F.col("bucket")
        e.shard = self._shard_col("y", cell, self.cms_shards)
        return e

    def merged_sketch(self, version: int | None = None) -> DataFrame:
        """Merge-on-read structure at a committed version: (level, d,
        bucket, n) per-cell sums — bounded rows, directly consumable by
        `sketches.dyadic_cms_range_counts`.  The level filter drops the
        co-located estimate rows (shards `o`/`q`), whose cell columns
        are NULL by the unified-schema construction."""
        return (
            self.store.read(self.spark, version)
            .filter(F.col("level").isNotNull())
            .groupBy("level", "d", "bucket")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    def quantile_rows(self, version: int | None = None) -> DataFrame:
        """The published running quantiles (batch_id, p_permille,
        target_rank, q_value) — the `q` shard of the single
        atomically-committed store (empty unless the writer was
        constructed with `ps`)."""
        return self.store.read_where(
            self.spark, "shard", [self.QOUT_SHARD], version=version
        ).select("batch_id", "p_permille", "target_rank", "q_value")

    def quantiles(self) -> DataFrame:
        """Current quantile estimates from the drained store — the
        descent over the merged structure; equals the batch
        `dyadic_quantiles` over a one-shot build of the full feed
        (linearity, blocks partition the feed)."""
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            dyadic_quantiles,
        )

        if not self.ps:
            raise ValueError("writer was constructed without quantile ps")
        return dyadic_quantiles(
            self.merged_sketch(),
            self.ps,
            universe_bits=self.universe_bits,
            width=self.width,
            depth=self.depth,
            salt=self.salt,
        )

    def range_counts(self) -> DataFrame:
        """Current range estimates from the drained store."""
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            dyadic_cms_range_counts,
        )

        return dyadic_cms_range_counts(
            self.merged_sketch(),
            self.ranges,
            universe_bits=self.universe_bits,
            width=self.width,
            depth=self.depth,
            salt=self.salt,
        )

    def _prior_cells(self, pin: int) -> dict[tuple[int, int, int], int]:
        """The committed store's merged grid {(level, d, bucket): n} at
        `pin` as a driver dict: the mirror's content (bounded at
        <= (universe_bits+1)*depth*width cells whatever has arrived),
        rebuilt from ONE bounded read of every cell shard when it is not
        anchored at `pin`."""
        if self._mem is None or self._mem_version != pin:
            # an empty store (pin -1) needs no read, and no collect job
            rows = [] if pin < 0 else (
                self.store.read_where(
                    self._session,
                    "shard",
                    [f"y{i}" for i in range(self.cms_shards)],
                    version=pin,
                )
                .select("level", "d", "bucket", "n")
                .collect()
            )
            self._mirror(pin, content=self._add_cells({}, rows))
        return self._mem

    @staticmethod
    def _add_cells(cells: dict, rows) -> dict:
        """Sum (level, d, bucket, n) rows into `cells` — counters are
        linear."""
        for r in rows:
            key = (r["level"], r["d"], r["bucket"])
            cells[key] = cells.get(key, 0) + r["n"]
        return cells

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            _dyadic_cms_build,
            dyadic_quantiles_py,
            dyadic_range_counts_py,
        )

        pin = self._pin(txn)
        e = self._exprs
        inc = _dyadic_cms_build(block, e.dcms).withColumn("shard", e.shard)
        # cached, then materialized by ONE bounded collect
        # (<= (bits+1)*depth*width rows by construction): it detects
        # the empty block, hands the driver the block cells for the
        # merge below, and leaves the cache populated so the staged
        # write's increment branch reads it instead of re-running the
        # block aggregate.
        inc = self._cache(inc)
        block_rows = inc.collect()
        if not block_rows:
            # every value NULL/out-of-range: nothing countable,
            # nothing published (the batch operator's drop
            # contract)
            return
        # merge prior + block cells DRIVER-side: both sides are
        # bounded by construction, counters are linear, and the
        # estimate/descent rules are all-integer — bit-identical to
        # a distributed merge, and the dict covers EVERY committed
        # cell, so no band mass can go unread
        merged = self._add_cells(dict(self._prior_cells(pin)), block_rows)
        est = dyadic_range_counts_py(
            merged,
            self.ranges,
            universe_bits=self.universe_bits,
            width=self.width,
            depth=self.depth,
            salt=self.salt,
        )
        est_df = self._session.createDataFrame(
            [
                (self.OUT_SHARD, int(batch_id), rid, lo, hi, e)
                for rid, lo, hi, e in est
            ],
            "shard string, batch_id long, range_id int, lo long, "
            "hi long, est long",
        )
        parts = [inc.select("shard", "level", "d", "bucket", "n"), est_df]
        if self.ps:
            # running quantiles AT INGEST: the descent over the SAME pre-append snapshot + block
            # cells, published in the SAME single atomic commit —
            # counters are linear, so the walk over `merged` equals
            # the batch walk over a one-shot build of everything
            # ingested so far, verbatim (the shared
            # `dyadic_quantiles_py` IS the batch operator's walk)
            qrows = dyadic_quantiles_py(
                merged,
                self.ps,
                universe_bits=self.universe_bits,
                width=self.width,
                depth=self.depth,
                salt=self.salt,
            )
            q_df = self._session.createDataFrame(
                [
                    (self.QOUT_SHARD, int(batch_id), p, tr, qv)
                    for p, tr, qv in qrows
                ],
                "shard string, batch_id long, p_permille int, "
                "target_rank long, q_value long",
            )
            parts.append(q_df)
        self._publish_group(txn, pin, *parts)
        self._mirror(pin + 1, content=merged)


dyadic_cms_stream = _DyadicCmsStreamWriter.stream


class _UniqStreamWriter(_DrainWriter):
    """Continuously-maintained per-group approximate count-distinct
    (estimates read back via `out_rows()`) — the streaming twin of the
    `uniqState`/`uniqMerge` pipeline, completing the sketch
    family's streaming trio (Misra-Gries `heavy_hitters_stream`,
    count-min `count_min_stream`, HLL here).  HLL sketch UNION is the
    merge-on-read algebra (per-register max — associative, commutative,
    and register-exact under ANY block split: the property test in
    tests/test_agg_state.py), so the architecture is the CMS counter
    store's verbatim with states instead of counters:

    State: one transactional table of (group, state) HLL-binary rows
    under `shard=u<hash(group) % uniq_shards>`, unioned per group at
    read (maintenance compacts files, never merges state rows).  Per
    block: ONE per-group `uniq_state` aggregate (<= block's
    distinct groups rows, PERSISTED — the shard collect and the staged
    write's two branches share it), running estimates AT INGEST for
    the block's groups (union of the pre-block snapshot's states + the
    block's own), then ONE atomic publish (`_publish_group`): state
    rows (shard `u*`) and estimate rows (shard `o`) in one commit.

    The drained store's per-group union is register-identical to the
    batch whole-input sketch, so the final estimates equal
    `q_uniq_users_approx`'s verbatim — extra `stream_uniq_users`
    hash-checks against that oracle unchanged (exact COUNT(DISTINCT)
    in the sketch's coupon-exact regime at gate scale).
    """

    _NULL_KEY = "\x00 null-group"

    def __init__(
        self,
        spark,
        store_dir: str,
        group_col: str,
        key_col: str,
        lg_k: int = 12,
        uniq_shards: int = 8,
        writer_id: str = "",
    ):
        super().__init__(spark, writer_id)
        self.group_col = group_col
        self.key_col = key_col
        self.lg_k = lg_k
        self.uniq_shards = uniq_shards
        self.store = TransactionalTable(os.path.join(store_dir, "store"))
        self._out_cols = ("batch_id", group_col, "approx_uniq")

    def _shard(self):
        key = F.coalesce(F.col(self.group_col).cast("string"), F.lit(self._NULL_KEY))
        return self._shard_col("u", F.xxhash64(key), self.uniq_shards)

    def merged_estimates(self, version: int | None = None) -> DataFrame:
        """Per-group merged estimates at a committed version — the
        uniqMerge read over every stored per-block state."""
        from apache_kafka_clickhouse_demo_spark.functions import agg_state as S

        return (
            self.store.read(self.spark, version)
            .filter(F.col("state").isNotNull())
            .groupBy(self.group_col)
            .agg(S.uniq_merge("state").alias("approx_uniq"))
        )

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.functions import agg_state as S

        pin = self._pin(txn)

        inc = (
            block.groupBy(self.group_col)
            .agg(S.uniq_state(self.key_col, self.lg_k).alias("state"))
            .withColumn("shard", self._shard())
        )
        # cached: the shard collect materializes the per-group state
        # rows (<= block's distinct groups); the staged write's two
        # branches then read the cache.  A local-frame form (collect the
        # binary states, publish them from a LocalTableScan) MEASURED
        # ~1.75x SLOWER here in isolated warm A/B (5.98 -> 10.47 s
        # min-of-5) — collecting and re-uploading HLL sketch binaries
        # per block costs more than the two driver actions it saves, the
        # count-min LocalTableScan lesson repeated on the state-store
        # side — so this writer keeps the distributed dataflow.
        inc = self._cache(inc)
        block_shards = sorted(
            (inc.agg(F.collect_set("shard")).first()[0]) or []
        )
        if not block_shards:
            # an empty block: every group, NULL included (`_NULL_KEY`),
            # routes to a shard, so no shard means no rows
            return
        gtype = block.schema[self.group_col].dataType.simpleString()
        prior = self._read_prior(
            block_shards, pin, f"{self.group_col} {gtype}, state binary"
        ).select(self.group_col, "state")
        # running estimate at ingest: union prior + block states per
        # group, restricted to the BLOCK's groups (null-safe semi
        # join so a NULL group accumulates like any other)
        gc = self.group_col
        merged = (
            prior.unionByName(inc.select(gc, "state"))
            .groupBy(gc)
            .agg(S.uniq_merge("state").alias("approx_uniq"))
        )
        est = (
            merged.alias("m")
            .join(
                inc.select(gc).distinct().alias("g"),
                F.col(f"m.{gc}").eqNullSafe(F.col(f"g.{gc}")),
                "leftsemi",
            )
            .select(
                F.lit(self.OUT_SHARD).alias("shard"),
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.col(gc),
                F.col("approx_uniq"),
            )
        )
        self._publish_group(txn, pin, inc.select("shard", gc, "state"), est)


uniq_stream = _UniqStreamWriter.stream


class _PackBinsStreamWriter(_DrainWriter):
    """Streaming first-fit bin packing at INGEST — the packing family's
    streaming twin.  Training-data pipelines pack while they ingest,
    not only in batch: each arriving block's documents pack into their
    buckets' OPEN bins the moment they land, so a downstream dataloader can
    start reading full bins without waiting for the corpus to close.

    State is ONE open-bin snapshot (`_DrainWriter`'s one-state family),
    NOT an append-only counter store: bin fills are read-modify-write
    and — decisively — the set of bins ever created grows with the
    corpus, so any design whose per-block read touches all historical
    bins is unbounded at 100 TB.  Each block replaces the snapshot with
    the post-block OPEN bins only, bounded by construction:

    - a bin CLOSES (leaves the snapshot forever; its rows already left
      through `out`) once its remaining capacity drops below
      `close_below` — it can no longer host anything but scraps;
    - each bucket carries at most `max_open` open bins — when FFD
      leaves more, the OLDEST (smallest bin_id) close first (FIFO, the
      order a dataloader drains), a deterministic cap that bounds the
      snapshot at buckets * max_open rows whatever arrives;
    - per-bucket `next_bin_id` rides in the snapshot as a sentinel row
      (bin_id = -1, fill = next id), so closed ids are never reused.

    Per block: canonicalize with the batch operator's exact drop rule,
    pack per bucket in ONE applyInPandas fold (block docs in FFD order
    — n_tokens desc, doc_id asc — first-fit into open bins by bin_id
    asc, then new bins; oversized docs open their own bin, flagged
    `overflow`, and close immediately), then publish the new snapshot
    (store: a replace commit of the pinned version — concurrent writers
    rejected) and the assignment rows (out) through `_publish_pair`.
    Assignments are a function of the PRE-block snapshot, so a
    half-committed retry re-reads the snapshot at its pin (`_pin`: the
    version the replace commit replaced, still in the log) and
    re-derives byte-identical out rows.

    Batch equality (the pin): on a bucket-aligned feed — block
    boundaries never split a bucket — every bucket packs with no prior
    state in exactly one block, so the drained assignments equal the
    batch `pack_bins_ffd` output verbatim (tests/test_pack_bins.py).
    Across blocks the fold is the honest streaming deviation: FFD
    order holds WITHIN a block, first-fit into open bins across them
    (a doc cannot displace history it arrived after), and `bin_fill`
    on an assignment row is the bin's fill as of its emitting block.

    Plan shape at 100 TB: per block, one block-bounded canonicalize +
    one shuffle on <= `buckets` keys + ONE read of the <= buckets *
    (max_open + 1)-row snapshot; per-bucket fold cost is
    O(n_b log n_b + n_b * bins_touched).  Bucketing is the standard
    FFD parallelization — each bucket is one dataloader shard.
    """

    _commit_order = ("store", "out")

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        capacity: int,
        buckets: int = 64,
        salt: str = "ffd:",
        id_col: str = "doc_id",
        n_col: str = "n_tokens",
        close_below: int | None = None,
        max_open: int = 64,
        writer_id: str = "",
    ):
        super().__init__(spark, writer_id)
        if capacity <= 0 or buckets <= 0 or max_open <= 0:
            raise ValueError("capacity, buckets, max_open must be positive")
        self.capacity = capacity
        self.buckets = buckets
        self.salt = salt
        self.id_col = id_col
        self.n_col = n_col
        #: a bin with remaining < close_below leaves the snapshot; the
        #: default trades at most ~1.5% fill (capacity // 64) for the
        #: bounded-state guarantee
        self.close_below = (
            max(1, capacity // 64) if close_below is None else close_below
        )
        self.max_open = max_open
        self.out = TransactionalTable(out_dir)
        self.store = TransactionalTable(os.path.join(store_dir, "store"))

    def open_bins(self, version: int | None = None) -> DataFrame:
        """The current OPEN bins: (bucket, bin_id, fill) — the bounded
        snapshot, sentinels excluded."""
        latest = self._latest(version)
        if latest is None:
            return self.spark.createDataFrame(
                [], "bucket long, bin_id long, fill long"
            )
        return latest.filter(F.col("bin_id") >= 0).select(
            "bucket", "bin_id", "fill"
        )

    def _pack_fn(self):
        import pandas as pd

        capacity = self.capacity
        close_below = self.close_below
        max_open = self.max_open

        def pack(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {
                    "bucket": pd.Series(dtype="int64"),
                    "bin_id": pd.Series(dtype="int64"),
                    "doc_id": pd.Series(dtype="int64"),
                    "n_tokens": pd.Series(dtype="int64"),
                    "bin_fill": pd.Series(dtype="int64"),
                    "overflow": pd.Series(dtype="bool"),
                    "is_open": pd.Series(dtype="bool"),
                }
            )
            bucket = int(pdf["bucket"].iloc[0])
            sent = pdf[(pdf["prior_bin"].notna()) & (pdf["prior_bin"] < 0)]
            prior = pdf[(pdf["prior_bin"].notna()) & (pdf["prior_bin"] >= 0)]
            prior = prior.sort_values("prior_bin")
            bin_ids = [int(b) for b in prior["prior_bin"]]
            fills = [int(f) for f in prior["prior_fill"]]
            next_id = (
                int(sent["prior_fill"].iloc[0])
                if len(sent)
                else ((max(bin_ids) + 1) if bin_ids else 0)
            )
            docs = pdf[pdf["doc_id"].notna()]
            assign: list[int] = []
            if len(docs):
                docs = docs.sort_values(
                    ["n_tokens", "doc_id"], ascending=[False, True],
                    kind="mergesort",
                )
                for n in docs["n_tokens"]:
                    n = int(n)
                    placed = -1
                    for i, f in enumerate(fills):
                        if f + n <= capacity:
                            placed = i
                            fills[i] = f + n
                            break
                    if placed < 0:
                        placed = len(fills)
                        bin_ids.append(next_id)
                        next_id += 1
                        fills.append(n)
                    assign.append(placed)
            # post-block OPEN set: remaining >= close_below, then the
            # max_open LARGEST ids survive (oldest close first)
            open_idx = [
                i for i, f in enumerate(fills)
                if capacity - f >= close_below
            ]
            open_idx = sorted(open_idx, key=lambda i: bin_ids[i])[-max_open:]
            open_set = set(open_idx)
            out_rows = (
                pd.DataFrame(
                    {
                        "bucket": bucket,
                        "bin_id": [bin_ids[i] for i in assign],
                        "doc_id": docs["doc_id"].astype("int64").to_numpy(),
                        "n_tokens": docs["n_tokens"].astype("int64").to_numpy(),
                        "bin_fill": [fills[i] for i in assign],
                        "overflow": [
                            int(t) > capacity
                            for t in docs["n_tokens"].to_numpy()
                        ],
                        "is_open": False,
                    }
                )
                if len(docs)
                else empty
            )
            state_rows = pd.DataFrame(
                {
                    "bucket": bucket,
                    "bin_id": [bin_ids[i] for i in open_idx] + [-1],
                    "doc_id": pd.array(
                        [None] * (len(open_idx) + 1), dtype="Int64"
                    ),
                    "n_tokens": pd.array(
                        [None] * (len(open_idx) + 1), dtype="Int64"
                    ),
                    "bin_fill": [fills[i] for i in open_idx] + [next_id],
                    "overflow": False,
                    "is_open": True,
                }
            )
            return pd.concat([out_rows, state_rows], ignore_index=True)

        return pack

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from pyspark.sql import types as T

        from apache_kafka_clickhouse_demo_spark.functions import hashing as H

        pin = self._pin(txn)
        # cached: the emptiness probe and the pack shuffle both read it
        src = self._cache(block.select(
            (
                H.h48(
                    F.concat(F.lit(self.salt), F.col(self.id_col).cast("string"))
                )
                % self.buckets
            ).alias("bucket"),
            F.col(self.id_col).cast("long").alias("doc_id"),
            F.col(self.n_col).cast("long").alias("n_tokens"),
        ).filter(
            F.col("doc_id").isNotNull()
            & F.col("n_tokens").isNotNull()
            & (F.col("n_tokens") >= 0)
        ))
        # bounded driver action: is there anything countable at all?
        # (a half-committed retry's first attempt already saw rows)
        if not self._resumed and src.isEmpty():
            return  # every row dropped by the batch contract
        prev = self._latest(pin)
        if prev is None:
            prior = self._session.createDataFrame(
                [], "bucket long, prior_bin long, prior_fill long"
            )
        else:
            # the WHOLE snapshot rides into the pack: untouched
            # buckets' bins (and sentinels) must carry forward into
            # the next snapshot — the frame is <= buckets *
            # (max_open + 1) rows by construction
            prior = prev.select(
                "bucket",
                F.col("bin_id").alias("prior_bin"),
                F.col("fill").alias("prior_fill"),
            )
        unioned = src.select(
            "bucket",
            "doc_id",
            "n_tokens",
            F.lit(None).cast("long").alias("prior_bin"),
            F.lit(None).cast("long").alias("prior_fill"),
        ).unionByName(
            prior.select(
                "bucket",
                F.lit(None).cast("long").alias("doc_id"),
                F.lit(None).cast("long").alias("n_tokens"),
                "prior_bin",
                "prior_fill",
            )
        )
        out_schema = T.StructType(
            [
                T.StructField("bucket", T.LongType()),
                T.StructField("bin_id", T.LongType()),
                T.StructField("doc_id", T.LongType()),
                T.StructField("n_tokens", T.LongType()),
                T.StructField("bin_fill", T.LongType()),
                T.StructField("overflow", T.BooleanType()),
                T.StructField("is_open", T.BooleanType()),
            ]
        )
        # cached: the snapshot write and the out append both read the
        # fold's output; <= block + buckets*(max_open+1) rows
        packed = self._cache(
            unioned.groupBy("bucket").applyInPandas(self._pack_fn(), out_schema)
        )
        snapshot = packed.filter(F.col("is_open")).select(
            "bucket",
            "bin_id",
            F.col("bin_fill").alias("fill"),
        )
        out_df = packed.filter(~F.col("is_open")).select(
            F.lit(batch_id).cast("long").alias("batch_id"),
            "bucket",
            "bin_id",
            "doc_id",
            "n_tokens",
            "bin_fill",
            "overflow",
        )
        self._publish_pair(
            txn, snapshot, lambda: out_df, partition_by=None, replaces=pin
        )


pack_bins_stream = _PackBinsStreamWriter.stream
