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

import os
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from apache_kafka_clickhouse_demo_spark.functions import text as TX_FN
from apache_kafka_clickhouse_demo_spark.sources.txlog import (
    ConcurrentWriteError,
    TransactionalTable,
)


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
    commits make the sink exactly-once.  The drain contract:

    - **Txn ids** are `<writer_id>:<batch_id>`, and the stream entry
      points pass the checkpoint path as `writer_id`.  It is stable
      across restarts of the SAME stream, so a replayed batch finds its
      own commits, and distinct for a NEW stream, whose batch ids
      restart at 0 — a bare batch id would make a new run over an
      existing durable store silently swallow its first batches as
      replays.
    - **Replays.** `process` checks the txn against every table the
      writer commits to, in commit order (`_commit_order`).  A batch every
      table already holds is a fully committed replay: it returns with
      zero Spark jobs.  Otherwise the subclass's `_process(block,
      batch_id, txn)` runs; `_resumed` is True when an earlier attempt
      already committed a prefix of the tables (a half-committed retry
      of a two-table writer).
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
      txns still answer `txn_committed`, so idempotence survives it.
      `maintain()` is safe ONLY between fully committed batches: the
      fold forgets which commit recorded a txn, and a half-committed
      retry needs that commit to re-derive its pre-append pin
      (`_resolve_retry_pin`).  An out table is never compacted here —
      it is the pipeline's product and grows with the corpus, so its
      consumer compacts it on its own schedule.
    """

    #: attributes holding the tables a batch commits to, in commit order
    _commit_order: tuple[str, ...] = ("store",)
    #: run `maintain()` after every `compact_every`-th batch (None: never)
    compact_every: int | None = None

    def __init__(self, spark, writer_id: str):
        self.spark = spark
        self.writer_id = writer_id

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
        self._process(block, batch_id, txn)
        if self.compact_every and (batch_id + 1) % self.compact_every == 0:
            self.maintain()

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        raise NotImplementedError

    def maintain(self) -> None:
        self._compact(self._tables()[0], partition_by="shard")

    def _compact(self, table: TransactionalTable, **optimize_kwargs) -> None:
        table.optimize(self.spark, **optimize_kwargs)
        table.checkpoint(compact_txn_watermarks=True)
        table.prune_log()
        table.vacuum()

    def _compact_to_generation(self, gen: int | None) -> int | None:
        """Generational stores: one retention rewrite keeps only
        generation `gen` (the newest committed one; None reads it from the
        store), so the store stays one summary's rows, not O(batches).
        Returns the table version after maintenance, None when nothing
        is committed."""
        store = self._tables()[0]
        if gen is None:
            gen = store.read(self.spark).agg(F.max("gen")).first()[0]
        if gen is None or gen < 0:
            return None
        self._compact(store, keep_where=F.col("gen") == int(gen))
        return store.version()

    def start(self, source: DataFrame, checkpoint: str):
        """Drain everything available in `source` through `process`."""
        return (
            source.writeStream.foreachBatch(self.process)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )


class _NearDupStreamWriter(_DrainWriter):
    """foreachBatch body shared by `minhash_dedup_stream` and
    `embedding_dedup_stream`: continuous near-duplicate filtering of an
    unbounded feed against an accumulating, BUCKET-PRUNED signature store.

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
    payload read only the candidate `shard=p*` dirs.  Per block (see
    `_process` for the exact protocol and its retry/exactness arguments):

      1. compute the block's (id, payload, bkeys) once — same codegen
         expressions as the batch operators, so the stream makes exactly
         the batch pair-finder's decisions — pin the store's pre-append
         version, and `append_once` the band and payload rows in ONE
         commit ON A SIDE THREAD (the write job also materializes the
         persisted block signatures);
      2. concurrently with that commit: read ONLY the store's colliding
         band shards AT THE PIN (`TransactionalTable.read_where` prunes
         driver-side off the commit log: O(matching buckets) files,
         however big the store — the pinned snapshot makes the side
         thread's commit invisible to every read in the block);
      3. band-equality candidate join (block vs pruned store + earlier
         in-block ids; one collect for the candidate ids' payload
         shards), read ONLY those payload shards at the pin, verify
         exactly (Jaccard / cosine), then BARRIER on the append thread
         and commit the survivors — both commits keyed by the batch txn
         (`_DrainWriter`), and the out commit strictly follows the store
         commit.

    The two `.first()` per block collect DISTINCT SHARD IDS — sets
    bounded by the constant shard counts B and P, never by data size: the
    same bounded-driver-action class as the IVF memoized count.  Both
    ride inside the append thread's wall.

    Scale: per-block work is O(block + colliding buckets), so a stream
    that has already ingested 100 TB pays the same per block as one that
    ingested 1 GB.  Shard counts are constructor params; production
    would size B/P in the thousands (one partition dir each ~ a few GB
    of store), tests use small values.

    Failure semantics: a missing store is ONLY signalled by the txlog's
    FileNotFoundError ("no commits yet"); any other read error — corrupt
    or vanished committed files — propagates and fails the batch rather
    than silently deduping against nothing.
    """

    _commit_order = ("store", "out")

    def __init__(
        self,
        spark,
        out_dir: str,
        store_dir: str,
        id_col: str,
        prepare,
        verify,
        band_shards: int = 16,
        id_shards: int = 8,
        compact_every: int | None = None,
        writer_id: str = "",
        out_files: int | None = None,
    ):
        super().__init__(spark, writer_id)
        self.id_col = id_col
        self.prepare = prepare  # block -> (id, payload, bkeys array<string>)
        self.verify = verify  # (payload_col_a, payload_col_b) -> bool Column
        self.band_shards = band_shards
        self.id_shards = id_shards
        self.compact_every = compact_every
        self.out_files = out_files
        self.out = TransactionalTable(out_dir)
        self.store = TransactionalTable(os.path.join(store_dir, "store"))

    def _shard(self, col: str, n: int):
        return F.pmod(F.xxhash64(col), F.lit(n)).cast("int")

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
        """Per-block pipeline, CONCURRENT APPEND-FIRST: the two write
        jobs carry most of the in-block wall, so the candidate chain runs
        while they do instead of after them.

        1. Pin the store snapshot: `pin = store.version()` BEFORE the
           append, so the block's reads never see its own rows on the
           normal path.  Multi-writer note: a CONCURRENT writer's commit
           landing between this pin and our own append is invisible to
           this block's candidate reads, so cross-writer suppression is
           best-effort within one block (fail-safe direction — a near-dup
           is KEPT, never wrongly dropped) and converges on the next
           block's fresh pin, which does see the other writer's rows.
        2. Commit the block's band+payload rows to the store on a SIDE
           THREAD while the main thread runs the candidate chain: band-
           shard collect (bounded: <= band_shards names), pruned band
           read AT `pin`, candidate join + payload-shard collect.  Both
           reads are pinned, so nothing the side thread writes is
           visible to them — the overlap changes wall time, not plans.
        3. Payload read at `pin`, verify, anti-join, and the survivors'
           STAGING write all run before the barrier too (staged files
           are reader-invisible until a commit names them, so only
           COMMIT order matters), then BARRIER: join the append thread
           (re-raising its error, discarding the staged survivors on
           failure), and publish the out commit.  The out commit strictly
           follows the store commit: a batch that dies between the two
           commits re-runs with the store append no-opping (txn guard)
           and `pin` now INCLUDING its own earlier rows — over-inclusive
           only of the block's own rows, which the block union + distinct
           absorbs — and the out side staging + publishing once.
        """
        sigs_b = self.prepare(block).persist()
        # cand is persisted mid-chain (stashed on self._cand_scratch);
        # unpersist BOTH in the outer finally so an append failure or
        # candidate-chain raise doesn't leak cached blocks into the retry
        # (which re-persists fresh copies).
        self._cand_scratch = None
        try:
            self._process_inner(block, batch_id, txn, sigs_b)
        finally:
            cand = getattr(self, "_cand_scratch", None)
            if cand is not None:
                cand.unpersist()
                self._cand_scratch = None
            sigs_b.unpersist()

    def _process_inner(
        self, block: DataFrame, batch_id: int, txn: str, sigs_b: DataFrame
    ) -> None:
        import threading

        banded_b = sigs_b.select(
            "id", F.explode("bkeys").alias("bkey")
        ).withColumn(
            "shard", F.concat(F.lit("b"), self._shard("bkey", self.band_shards))
        )

        # idempotent per-batch commit: a retried batch no-ops.  Store
        # EVERY seen id's rows — dropped docs still suppress future
        # copies of their cluster.
        #
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
                F.concat(
                    F.lit("p"), self._shard("id", self.id_shards)
                ).alias("shard"),
            )
        )
        # Pin BEFORE the append (docstring step 1).  Normal path: own
        # rows excluded.  Store-committed retry: version() already
        # includes the earlier attempt's rows — own rows included,
        # harmless per the union+distinct argument.
        pin = self.store.version()

        # Store commit on a side thread (docstring step 2).  ONE staged
        # write + ONE commit publishes the block's bands and payloads
        # atomically (no bands-without-payloads window); the write job
        # also materializes the persisted block signatures the candidate
        # chain reuses (the cache's per-partition locks serialize the
        # overlap safely).
        append_exc: list[BaseException] = []

        def _append() -> None:
            try:
                self.store.append_once(
                    store_rows.repartition(F.col("shard")),
                    txn=txn,
                    partition_by="shard",
                )
            except BaseException as e:  # re-raised after join()
                append_exc.append(e)

        appender = threading.Thread(target=_append, daemon=True)
        appender.start()

        # The candidate chain runs under try/finally on the appender join:
        # if it raises, the batch must not fail (and get retried by
        # foreachBatch) while the orphaned append thread is still running —
        # append_once's idempotence contract requires retries of one txn to
        # be SEQUENTIAL.
        try:
            # bounded driver action: <= band_shards distinct names.  Runs
            # inside the append's wall, and against the PINNED snapshot,
            # so the side thread's commit is invisible to it.
            block_shards = (banded_b.agg(F.collect_set("shard")).first()[0]) or []
            try:
                store_bands = self.store.read_where(
                    self.spark, "shard", block_shards, version=pin
                )
            except FileNotFoundError:  # no commits below the pin — first block
                store_bands = banded_b.limit(0)
            earlier_bands = store_bands.select("id", "bkey").unionByName(
                banded_b.select("id", "bkey")
            )
            cand = (
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
                .persist()
            )
            self._cand_scratch = cand

            # bounded driver action: ≤ id_shards distinct shard names.
            # The payload shards to read are those of CANDIDATE ids, which
            # only exist after the band-pruned store read; this collect is
            # also the job that materializes the persisted candidate join
            # `dropped` reuses, and it typically still overlaps the
            # append thread.
            cand_shards = (
                cand.agg(
                    F.collect_set(
                        F.concat(F.lit("p"), self._shard("id_a", self.id_shards))
                    )
                ).first()[0]
            ) or []
            try:
                store_pay = self.store.read_where(
                    self.spark, "shard", cand_shards, version=pin
                ).select("id", "payload")
            except FileNotFoundError:
                store_pay = sigs_b.select("id", "payload").limit(0)
            earlier_pay = store_pay.unionByName(sigs_b.select("id", "payload"))

            dropped = (
                cand.join(earlier_pay.alias("pa"), cand.id_a == F.col("pa.id"))
                .join(
                    sigs_b.select("id", "payload").alias("pb"),
                    cand.id_b == F.col("pb.id"),
                )
                .filter(self.verify("pa.payload", "pb.payload"))
                .select(F.col("id_b").alias(self.id_col))
                .distinct()
            )
            survivors = block.join(dropped, self.id_col, "left_anti")
            # survivors inherit the block's task layout — for a micro-
            # batch that is N mostly-tiny files per commit.  `out_files`
            # coalesces the commit (fewer files for the consumer + fewer
            # fsyncs; wall measured neutral at gate scale — the win is
            # the file count).  None keeps the source layout — the right
            # default for large blocks, because coalesce() propagates UP
            # the final stage and would throttle the anti-join itself to
            # `out_files` tasks.
            out_df = (
                survivors
                if self.out_files is None
                else survivors.coalesce(self.out_files)
            )
            # STAGE the survivors BEFORE the barrier: the verify/anti-join
            # pipeline — the block's most expensive job — runs while the
            # appender's tail is still in flight.  Every read in it is
            # pinned, so the overlap changes
            # wall time, not results; staged files are reader-invisible
            # until the commit below names them.  (out committed while
            # store is not cannot exist — the commit order below — so
            # the txn guard here only protects a torn external state.)
            staged_out = (
                self.out.stage_for_append(out_df)
                if not self.out.txn_committed(txn)
                else None
            )
        finally:
            appender.join()

        # BARRIER (docstring step 3): the appender is joined by the
        # finally above; surface its failure BEFORE publishing survivors,
        # else a failed store append could leave survivors whose
        # suppressing rows never landed — their staging is discarded (no
        # commit references it).
        if append_exc:
            if staged_out is not None:
                self.out.discard_staged(staged_out)
            raise append_exc[0]
        if staged_out is not None:
            self.out.commit_staged(staged_out, txn=txn)


def minhash_stream_writer(
    spark,
    out_dir: str,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    band_shards: int = 16,
    id_shards: int = 8,
    compact_every: int | None = None,
    writer_id: str = "",
    out_files: int | None = None,
    expected_corpus_rows: int | None = None,
) -> _NearDupStreamWriter:
    """The MinHash-LSH near-dup stream's foreachBatch writer — exposed so
    tests can drive `writer.process(block, batch_id)` directly (retry
    idempotence, pruning asserts) without a streaming query around it.

    `expected_corpus_rows` sizes the store's shard counts for the corpus
    the stream is expected to accumulate (`shards_for_store`; band side
    holds `bands` rows per doc, payload side one) — overriding the
    test-scale `band_shards`/`id_shards` defaults.  Pass it in production;
    the r9 rehearsal drives the >= 1k-shard regime it produces.
    """
    if expected_corpus_rows is not None:
        band_shards = shards_for_store(expected_corpus_rows * bands)
        id_shards = shards_for_store(expected_corpus_rows)
    from apache_kafka_clickhouse_demo_spark.operators.dedup import (
        band_keys_array,
        jaccard_of,
        minhash_signatures,
    )

    def prepare(block: DataFrame) -> DataFrame:
        sigs = minhash_signatures(block, text_col, id_col, num_perm, shingle_n)
        # "band:key" strings collide iff (band, band_key) pairs collide —
        # identical bucketing to the batch band_key_rows
        bkeys = F.transform(
            band_keys_array(num_perm, bands),
            lambda k, i: F.concat(i.cast("string"), F.lit(":"), k),
        )
        return sigs.select(
            F.col("doc_id").alias("id"),
            F.col("shingles").alias("payload"),
            bkeys.alias("bkeys"),
        )

    return _NearDupStreamWriter(
        spark,
        out_dir,
        store_dir,
        id_col,
        prepare,
        lambda a, b: jaccard_of(a, b) >= threshold,
        band_shards=band_shards,
        id_shards=id_shards,
        compact_every=compact_every,
        writer_id=writer_id,
        out_files=out_files,
    )


def minhash_dedup_stream(
    spark,
    source: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 12,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    band_shards: int = 16,
    id_shards: int = 8,
    compact_every: int | None = None,
    out_files: int | None = None,
    expected_corpus_rows: int | None = None,
):
    """Streaming NEAR-duplicate dedup: continuous MinHash-LSH filtering of
    an unbounded document feed against an accumulating signature store —
    the streaming twin of `dedup.minhash_lsh_pairs`, and the filter a
    continuously-ingesting training-data pipeline actually runs (batch
    dedup of a 100 TB corpus is a rebuild; this keeps the corpus clean as
    it grows).  Mechanics, store layout, pruning, and exactly-once
    guarantees: see `_NearDupStreamWriter`.

    Semantics: a document survives iff NO earlier-id document anywhere in
    the stream is a verified near-duplicate — "earlier" is the document id,
    so feed blocks in id order for the cross-block decisions to be final
    (the gate fixture does; out-of-order arrival would need a compaction
    pass over `out_dir`, the same reconciliation any streaming dedup with
    late data needs).  Survivors land in the transactional table at
    `out_dir`: read it with `TransactionalTable(out_dir).read(spark)`,
    never as plain parquet — the directory can also hold files no commit
    names (an orphan of a failed stage, or files `optimize()` replaced
    that `vacuum()` has not reclaimed yet), which only the commit log
    filters out.
    """
    writer = minhash_stream_writer(
        spark,
        out_dir,
        store_dir,
        text_col=text_col,
        id_col=id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        band_shards=band_shards,
        id_shards=id_shards,
        expected_corpus_rows=expected_corpus_rows,
        compact_every=compact_every,
        writer_id=checkpoint,
        out_files=out_files,
    )
    return writer.start(source, checkpoint)


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


def embedding_stream_writer(
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
    band_shards: int = 16,
    id_shards: int = 8,
    compact_every: int | None = None,
    writer_id: str = "",
    out_files: int | None = None,
    expected_corpus_rows: int | None = None,
) -> _NearDupStreamWriter:
    """The embedding near-dup stream's foreachBatch writer — exposed for
    direct `writer.process(block, batch_id)` testing, like
    `minhash_stream_writer`.  `expected_corpus_rows` sizes the shard
    counts for the expected corpus (band side holds `num_tables` rows per
    vector) — see `shards_for_store`."""
    if expected_corpus_rows is not None:
        band_shards = shards_for_store(expected_corpus_rows * num_tables)
        id_shards = shards_for_store(expected_corpus_rows)
    from apache_kafka_clickhouse_demo_spark.functions import vectors as V
    from apache_kafka_clickhouse_demo_spark.operators.similarity import (
        rp_bucket,
        rp_hyperplanes,
    )

    buckets_expr = F.array(
        *[
            rp_bucket(F.col(vec_col), rp_hyperplanes(planes_per_table, dim, seed + t))
            for t in range(num_tables)
        ]
    )

    def prepare(block: DataFrame) -> DataFrame:
        bkeys = F.transform(
            buckets_expr,
            lambda b, t: F.concat(t.cast("string"), F.lit(":"), b.cast("string")),
        )
        return block.select(
            F.col(id_col).alias("id"),
            V.normalize(vec_col).alias("payload"),
            bkeys.alias("bkeys"),
        )

    return _NearDupStreamWriter(
        spark,
        out_dir,
        store_dir,
        id_col,
        prepare,
        lambda a, b: V.dot(a, b) >= threshold,
        band_shards=band_shards,
        id_shards=id_shards,
        compact_every=compact_every,
        writer_id=writer_id,
        out_files=out_files,
    )


def embedding_dedup_stream(
    spark,
    source: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    dim: int = 64,
    num_tables: int = 8,
    planes_per_table: int = 4,
    seed: int = 101,
    band_shards: int = 16,
    id_shards: int = 8,
    compact_every: int | None = None,
    out_files: int | None = None,
    expected_corpus_rows: int | None = None,
):
    """Streaming embedding near-dup dedup — the cosine sibling of
    `minhash_dedup_stream`: each arriving block is multi-table RP-LSH
    bucketed against an accumulating store of normalized vectors, bucket
    collisions are verified with the exact cosine, and a vector with any
    verified earlier-id partner is dropped.  Same LSH tables, hyperplanes,
    and threshold as the batch `dedup.embedding_near_dup_pairs`, so the
    stream makes exactly the batch pair-finder's decisions.  Store layout,
    bucket pruning, and exactly-once sinks: see `_NearDupStreamWriter`
    (payload = the normalized vector, computed ONCE at arrival; bkey =
    "table:rp-bucket").
    """
    writer = embedding_stream_writer(
        spark,
        out_dir,
        store_dir,
        vec_col=vec_col,
        id_col=id_col,
        threshold=threshold,
        dim=dim,
        num_tables=num_tables,
        planes_per_table=planes_per_table,
        seed=seed,
        band_shards=band_shards,
        id_shards=id_shards,
        expected_corpus_rows=expected_corpus_rows,
        compact_every=compact_every,
        writer_id=checkpoint,
        out_files=out_files,
    )
    return writer.start(source, checkpoint)


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
    """foreachBatch body for `heavy_hitters_stream`: maintain ONE global
    Misra-Gries summary of an unbounded feed in a transactional store.

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
      3. publish the new summary as the next GENERATION under the batch
         txn (`_DrainWriter`) — readers take only the newest generation,
         so the store read stays O(C) after any number of batches.
         `maintain()` (or `compact_every`) folds superseded generations
         away.

    Exactness contract matches the batch operator: while the stream's
    total distinct values fit in C no trim ever fires and the summary IS
    the exact counts; beyond that, undercount <= n / (C + 1).

    Concurrency contract: ONE live writer per store (the foreachBatch
    model; retries of a batch are sequential) — and ENFORCED: each
    publish is a compare-and-swap on the table version read by
    `_latest()`, so of two concurrent writers racing the same parent
    generation exactly one commits and the other fails its batch with
    `ConcurrentWriteError` — never the silent double-count that merging
    two same-generation summaries would produce.  Sequential writer
    HANDOVER (a new stream run, fresh writer_id) is the supported restart
    path and is pinned by test.
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
        #: driver-resident mirror of the newest COMMITTED generation:
        #: (counts {value: count_lb}, trim-error total, gen, version) —
        #: bounded at <= capacity+1 rows by the MG invariant.  Advanced
        #: only after a successful publish; rebuilt through `_latest()`
        #: on first use (restart/handover) and invalidated on a lost
        #: CAS race so the retry re-reads the sibling's commit.
        self._mem: tuple[dict[str, int], int, int, int] | None = None

    def _latest(self) -> tuple[DataFrame | None, int, int]:
        """(newest generation's summary or None, its gen number or -1,
        the table VERSION of the snapshot read) — the version is what the
        publish CASes against (see `process`)."""
        snap_v = self.store.version()
        if snap_v < 0:  # no commits yet — first block
            return None, -1, snap_v
        stored = self.store.read(self.spark, version=snap_v)
        gen = stored.agg(F.max("gen")).first()[0]
        if gen is None:
            return None, -1, snap_v
        return stored.filter(F.col("gen") == gen).drop("gen"), int(gen), snap_v

    def _latest_summary(self) -> DataFrame | None:
        return self._latest()[0]

    def _latest_local(self) -> tuple[dict[str, int], int, int, int]:
        """(counts, trim-error total, gen, snapshot version) of the
        newest committed generation — from the driver mirror when this
        writer advanced it, else ONE bounded read through `_latest()`
        (<= capacity+1 rows by the MG invariant)."""
        if self._mem is not None:
            return self._mem
        prev, prev_gen, snap_v = self._latest()
        counts: dict[str, int] = {}
        err = 0
        if prev is not None:
            for r in prev.collect():
                err += int(r["trim_err"])
                if r["value"] is not None:
                    counts[r["value"]] = (
                        counts.get(r["value"], 0) + int(r["count_lb"])
                    )
        self._mem = (counts, err, prev_gen, snap_v)
        return self._mem

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
        prev_counts, prev_err, prev_gen, snap_v = self._latest_local()
        counts = dict(prev_counts)
        err = prev_err
        for r in block_rows:
            err += int(r["trim_err"])
            if r["value"] is not None:
                counts[r["value"]] = counts.get(r["value"], 0) + int(
                    r["count_lb"]
                )
        # (C+1)-th largest merged count = the trim subtrahend (0 when
        # the merged summary already fits)
        if len(counts) > self.capacity:
            sub = sorted(counts.values(), reverse=True)[self.capacity]
        else:
            sub = 0
        trimmed = {v: c - sub for v, c in counts.items() if c - sub > 0}
        # generation = stored max + 1, NOT the batch id: a NEW stream run
        # (fresh checkpoint, batch ids restart at 0) over an existing
        # durable store must write ABOVE the stored generations or
        # _latest() keeps serving the old run's summary and the new run's
        # counts silently vanish — the same restart hazard the writer_id
        # scoping of txn ids exists for
        new_summary = self.spark.createDataFrame(
            [(v, c, 0) for v, c in trimmed.items()]
            + [(None, 0, err + sub)],
            _SUMMARY_SCHEMA,
        ).withColumn("gen", F.lit(prev_gen + 1).cast("long"))
        # CAS on the snapshot version: the single-live-writer contract is
        # ENFORCED, not just documented — a concurrent
        # sibling that committed after our `_latest()` read makes this
        # publish raise ConcurrentWriteError (failing the batch loudly)
        # instead of both writers publishing generation prev_gen+1 and
        # `_latest()` merging their rows into double counts.
        try:
            self.store.append_once(new_summary, txn=txn, cas_version=snap_v)
        except ConcurrentWriteError:
            # the sibling advanced the store past our mirror: drop it so
            # a RETRY of this batch re-reads the sibling's commit instead
            # of CAS-failing forever against a stale snapshot
            self._mem = None
            raise
        self._mem = (trimmed, err + sub, prev_gen + 1, snap_v + 1)

    def maintain(self) -> None:
        v = self._compact_to_generation(None if self._mem is None else self._mem[2])
        if v is not None and self._mem is not None:
            # re-anchor the mirror's CAS version; content is unchanged
            # (the rewrite keeps exactly the mirrored generation)
            self._mem = (*self._mem[:3], v)

    def topk(self, k: int) -> DataFrame:
        """Current top-k with bounds from the stored summary (same answer
        tail as the batch operator)."""
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            finalize_topk,
        )

        latest = self._latest_summary()
        if latest is None:
            raise FileNotFoundError(f"no summary committed yet in {self.store.path}")
        return finalize_topk(latest, k)


def heavy_hitters_stream(
    spark,
    source: DataFrame,
    store_dir: str,
    checkpoint: str,
    col: str,
    capacity: int = 1 << 14,
    compact_every: int | None = None,
    weight_col: str | None = None,
):
    """Streaming `topK`: maintain a global Misra-Gries heavy-hitters
    summary of an unbounded feed — the streaming twin of
    `operators/sketches.heavy_hitters_topk`, with the same exactness
    contract and error bound.  Pass `weight_col` (an integer column of
    the feed) for the topKWeighted twin — the fold increments by the
    weight, everything else is shared.  Mechanics, store layout, and
    exactly-once guarantees: see `_TopKStreamWriter`; read the current
    answer any time with `topk_stream_writer(...).topk(k)`."""
    writer = topk_stream_writer(
        spark,
        store_dir,
        col,
        capacity=capacity,
        compact_every=compact_every,
        writer_id=checkpoint,
        weight_col=weight_col,
    )
    return writer.start(source, checkpoint)


def topk_stream_writer(
    spark,
    store_dir: str,
    col: str,
    capacity: int = 1 << 14,
    compact_every: int | None = None,
    writer_id: str = "",
    weight_col: str | None = None,
) -> _TopKStreamWriter:
    """The stream's writer object, exposed for direct `process(block, id)`
    testing (retry idempotence) and for `topk(k)` reads of the store."""
    return _TopKStreamWriter(
        spark,
        store_dir,
        col,
        capacity=capacity,
        compact_every=compact_every,
        writer_id=writer_id,
        weight_col=weight_col,
    )


class _ReservoirStreamWriter(_DrainWriter):
    """foreachBatch body for `reservoir_sample_stream`: maintain a
    fixed-size UNIFORM sample of an unbounded feed as a bottom-k-by-hash
    sketch in a generational transactional store.

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
    merged with the stored generation's <= k rows, re-trimmed to k, and
    published as generation+1 under the batch txn with the same
    version-CAS discipline as `_TopKStreamWriter` (concurrent writers
    rejected, never merged).  Store reads are
    O(k) after any number of batches; `maintain()` folds superseded
    generations away.
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
        #: driver-resident (gen, version) of the newest COMMITTED
        #: generation — the generation ROWS stay in the cluster (the
        #: sample is data-sized, k per group); mirroring just the two
        #: scalars drops the per-block max(gen) driver action.  Same
        #: protocol as the topK mirror: advanced only after a
        #: successful publish, rebuilt through the store on first use,
        #: invalidated on a lost CAS race.
        self._mem: tuple[int, int] | None = None

    def _rank(self):
        from apache_kafka_clickhouse_demo_spark.functions import hashing as H

        return H.h48(
            F.concat(F.lit(self.salt), F.col(self.id_col).cast("string"))
        )

    def _latest(self):
        if self._mem is not None:
            gen, snap_v = self._mem
            stored = self.store.read(self.spark, version=snap_v)
            return stored.filter(F.col("gen") == gen).drop("gen"), gen, snap_v
        snap_v = self.store.version()
        if snap_v < 0:
            return None, -1, snap_v
        stored = self.store.read(self.spark, version=snap_v)
        gen = stored.agg(F.max("gen")).first()[0]
        if gen is None:
            return None, -1, snap_v
        self._mem = (int(gen), snap_v)
        return stored.filter(F.col("gen") == gen).drop("gen"), int(gen), snap_v

    def _bottom_k(self, df: DataFrame) -> DataFrame:
        if self.group_col is None:
            # TakeOrdered: k is a sketch size, never corpus-sized
            return df.orderBy("rank", self.id_col).limit(self.k)
        # per-group trim: the window runs over BLOCK-bounded candidates
        # or the <= groups*k stored generation, never the feed (the
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
        prev, prev_gen, snap_v = self._latest()
        merged = cand if prev is None else prev.unionByName(cand)
        # a row can appear in both the store and a replayed/overlapping
        # feed under at-least-once sources: same id -> same rank, dedup
        # exactly
        next_gen = self._bottom_k(
            merged.dropDuplicates([self.id_col])
        ).withColumn("gen", F.lit(prev_gen + 1).cast("long"))
        try:
            self.store.append_once(next_gen, txn=txn, cas_version=snap_v)
        except ConcurrentWriteError:
            # a sibling advanced the store past our mirror: drop it so a
            # retry re-reads the sibling's commit instead of CAS-failing
            # forever against a stale snapshot
            self._mem = None
            raise
        self._mem = (prev_gen + 1, snap_v + 1)

    def maintain(self) -> None:
        v = self._compact_to_generation(None if self._mem is None else self._mem[0])
        if v is not None and self._mem is not None:
            self._mem = (self._mem[0], v)  # re-anchor; content unchanged

    def sample(self) -> DataFrame:
        """The current sample (id + payload columns, rank dropped)."""
        latest, _gen, _v = self._latest()
        if latest is None:
            raise FileNotFoundError(f"no sample committed yet in {self.store.path}")
        return latest.drop("rank")

    def stratified(self) -> DataFrame:
        """The current per-group sample in the batch operator's exact
        shape: (group, id, strat_rank 1..k by (hash, id)).  The window
        runs over the <= groups*k stored generation only."""
        from pyspark.sql import Window as W

        if self.group_col is None:
            raise ValueError("stratified() needs a group_col writer")
        latest, _gen, _v = self._latest()
        if latest is None:
            raise FileNotFoundError(f"no sample committed yet in {self.store.path}")
        w = W.partitionBy(self.group_col).orderBy("rank", self.id_col)
        return latest.select(
            self.group_col,
            self.id_col,
            F.row_number().over(w).cast("int").alias("strat_rank"),
        )


def reservoir_stream_writer(
    spark,
    store_dir: str,
    id_col: str,
    k: int,
    payload_cols: list[str] | None = None,
    compact_every: int | None = None,
    writer_id: str = "",
    salt: str = "sample:",
    group_col: str | None = None,
) -> _ReservoirStreamWriter:
    """The stream's writer object, exposed for direct `process(block, id)`
    testing and `sample()`/`stratified()` reads of the store.  Pass
    `group_col` (+ the batch operator's salt) for the r13 stratified
    form: a per-group quota sample maintained at ingest."""
    return _ReservoirStreamWriter(
        spark,
        store_dir,
        id_col,
        k,
        payload_cols=payload_cols,
        compact_every=compact_every,
        writer_id=writer_id,
        salt=salt,
        group_col=group_col,
    )


def reservoir_sample_stream(
    spark,
    source: DataFrame,
    store_dir: str,
    checkpoint: str,
    id_col: str,
    k: int,
    payload_cols: list[str] | None = None,
    compact_every: int | None = None,
    salt: str = "sample:",
    group_col: str | None = None,
):
    """Streaming uniform k-sample of an unbounded feed — the streaming
    twin of the hash-rank batch samplers (`train_test_split.in_sample` /
    `hash_sample`), kept continuously current as the stream grows.
    With `group_col` (+ the batch salt) this is the STRATIFIED form:
    `sampling.stratified_sample`'s per-group quota maintained at
    ingest, state <= groups * k rows.  Mechanics and guarantees: see
    `_ReservoirStreamWriter`; read the current sample any time with
    `reservoir_stream_writer(...).sample()` / `.stratified()`."""
    writer = reservoir_stream_writer(
        spark,
        store_dir,
        id_col,
        k,
        payload_cols=payload_cols,
        compact_every=compact_every,
        writer_id=checkpoint,
        salt=salt,
        group_col=group_col,
    )
    return writer.start(source, checkpoint)


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
# Streaming URL-level dedup (r10): the crawl-pipeline twin of
# `dedup.url_dedup` — first-arrival-wins filtering of an unbounded feed
# against an accumulating canonical-URL key store.
# ---------------------------------------------------------------------------


class _UrlDedupStreamWriter(_DrainWriter):
    """foreachBatch body of `url_dedup_stream`: continuous EXACT dedup of
    a crawl feed by canonical URL, against ONE transactional key store
    (`shard=<hash(key) % key_shards>` layout; every read is shard-pruned,
    so a block pays O(its own keys) store files however big the store).

    Per block:

    1. Canonicalize row-locally (the same `dedup.url_parts` expressions
       as the batch operator, so stream and batch make identical
       normalization decisions) and reduce to the block-local MIN doc_id
       per key — one aggregate that removes within-block choice
       ambiguity, making every decision deterministic; the key is
       `coalesce(url_norm, 'invalid:' || doc_id)` per the repo's
       degenerate-doc contract (invalid URLs never collapse).
    2. Pin the store version, collect the block's touched shard names
       (bounded by `key_shards`, never by data), read ONLY those shards
       at the pin, and suppress rows whose key exists in the store with
       a DIFFERENT doc_id.  The != guard is what makes a store-committed
       RETRY self-tolerant: the earlier attempt's own rows match on
       doc_id and do not suppress, so the retry re-derives identical
       survivors.
    3. STAGE the survivors' key rows (store) and the survivors (out)
       as two CONCURRENT Spark jobs, then publish the two commits in
       order: store first, THEN out — the crash-window argument only
       constrains COMMIT order, never staging order (staged files are
       reader-invisible until a commit names them), so the two write
       jobs overlap on the cluster (`_overlapped_store_out_commit`).
       Dying between the commits re-runs the batch with the store side
       a txn no-op and the out side staging + publishing once.

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
    ):
        super().__init__(spark, writer_id)
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
        reduced = (
            parts.groupBy(key.alias("key"))
            .agg(F.min(F.struct("doc_id", "url_norm", "reg_domain")).alias("m"))
            .select(
                "key",
                F.col("m.doc_id").alias("doc_id"),
                F.col("m.url_norm").alias("url_norm"),
                F.col("m.reg_domain").alias("reg_domain"),
            )
            .withColumn(
                "shard",
                F.pmod(F.xxhash64("key"), F.lit(self.key_shards)).cast("string"),
            )
            .persist()
        )
        try:
            pin = self.store.version()
            # bounded driver action: <= key_shards distinct names
            touched = (reduced.agg(F.collect_set("shard")).first()[0]) or []
            try:
                seen = self.store.read_where(
                    self.spark, "shard", touched, version=pin
                ).select("key", F.col("doc_id").alias("store_id"))
            except FileNotFoundError:  # no commits below the pin
                seen = reduced.select(
                    "key", F.col("doc_id").alias("store_id")
                ).limit(0)
            survivors = (
                reduced.join(seen, "key", "left")
                .filter(
                    F.col("store_id").isNull()
                    | (F.col("store_id") == F.col("doc_id"))
                )
                .select("key", "doc_id", "url_norm", "reg_domain", "shard")
                # both staging jobs read the survivor join; persisted so
                # the pruned read + join run once and the second job
                # reads cached partitions (block-bounded rows)
                .persist()
            )
            try:
                out_df = survivors.select("doc_id", "url_norm", "reg_domain")
                if self.out_files is not None:
                    out_df = out_df.coalesce(self.out_files)
                # CONCURRENT staging, ORDERED commits (docstring step 3):
                # the store rows stage on a side thread while the out
                # rows stage on this one; the store commit still strictly
                # precedes the out commit.  Tasks stay aligned with the
                # shard layout like the near-dup writers.
                _overlapped_store_out_commit(
                    self.store,
                    survivors.select("key", "doc_id", "shard").repartition(
                        F.col("shard")
                    ),
                    "shard",
                    self.out,
                    out_df,
                    txn,
                )
            finally:
                survivors.unpersist()
        finally:
            reduced.unpersist()


def url_dedup_stream(
    spark,
    source: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX_FN.PUBLIC_SUFFIXES,
    key_shards: int = 16,
    out_files: int | None = None,
    expected_corpus_rows: int | None = None,
):
    """Streaming URL-level dedup: the streaming twin of
    `dedup.url_dedup`, and the FIRST filter a continuously-crawling
    training-data pipeline runs (cheaper than any content dedup — a
    re-crawled page drops before it is ever shingled).  Mechanics,
    exactly-once guarantees, and the first-arrival semantics: see
    `_UrlDedupStreamWriter`.  `expected_corpus_rows` sizes the store's
    shard count for the corpus the stream will accumulate
    (`shards_for_store`; one key row per surviving URL)."""
    if expected_corpus_rows is not None:
        key_shards = shards_for_store(expected_corpus_rows)
    writer = _UrlDedupStreamWriter(
        spark,
        out_dir,
        store_dir,
        url_col=url_col,
        id_col=id_col,
        suffixes=suffixes,
        key_shards=key_shards,
        writer_id=checkpoint,
        out_files=out_files,
    )
    return writer.start(source, checkpoint)


class _TermIndexStreamWriter(_DrainWriter):
    """foreachBatch body for `term_index_stream`: every micro-batch
    publishes one inverted-index SEGMENT — its postings plus its own
    meta row (`search_index._segment_frames`) — under the batch txn
    (`_DrainWriter`), so a retried batch can never double-publish its
    meta row (doubled corpus stats are exactly the corruption the
    segment model must prevent).

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
        n_shards: int,
        writer_id: str,
        text_col: str = "text",
        id_col: str = "doc_id",
    ):
        super().__init__(spark, writer_id)
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
        self.table.append_once(
            seg.repartition(F.col("shard")), txn=txn, partition_by="shard"
        )


def term_index_stream(
    spark,
    source: DataFrame,
    index_dir: str,
    checkpoint: str,
    n_shards: int = 16,
    expected_corpus_rows: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Continuously indexed corpus: the streaming twin of
    `search_index.build_term_index`/`extend_term_index` — each
    micro-batch of (deduped) documents becomes one atomic index segment,
    and `bm25_lookup` answers over the index at any committed version
    with exact corpus stats.  `expected_corpus_rows` sizes the shard
    count for the corpus the stream will accumulate (vocabulary-side
    rows; `shards_for_store`)."""
    if expected_corpus_rows is not None:
        n_shards = shards_for_store(expected_corpus_rows)
    writer = _TermIndexStreamWriter(
        spark,
        index_dir,
        n_shards=n_shards,
        writer_id=checkpoint,
        text_col=text_col,
        id_col=id_col,
    )
    return writer.start(source, checkpoint)


class _AnnIndexStreamWriter(_DrainWriter):
    """foreachBatch body for `ann_index_stream`: a continuously indexed
    EMBEDDING corpus — the ANN twin of `_TermIndexStreamWriter`.

    The first non-empty batch CREATES the index (it is the founding
    segment: the IVF centroids are hash-sampled from it by the shared
    quantizer, sized by `target_centroids`); every later batch is one
    `extend_ann_index` segment assigned against those FIXED centroids.
    Both paths publish through batch-keyed commits, so a retried batch
    can never double-publish its meta row: creation stamps the txn into
    its CAS commit (crash AFTER the commit -> the replay's txn check
    no-ops; two concurrent creators -> one loses the CAS), extension
    goes through `append_once`.

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
        self.expected_corpus_rows = expected_corpus_rows
        if expected_corpus_rows is not None and n_shards is None:
            n_shards = shards_for_store(expected_corpus_rows)
        self.n_shards = n_shards
        self.vec_col = vec_col
        self.id_col = id_col
        self.salt = salt
        #: (n_shards, k) — BOTH creation-fixed by the extend contract,
        #: derived once on the first extension and passed back into
        #: every later one (re-deriving them per block would cost two
        #: driver-synchronized jobs).  Safe across THIS writer's
        #: maintenance: optimize preserves rows, and neither value can
        #: change after creation.  An EXTERNAL
        #: `compact_*_index(recluster=True)` against a live-streamed
        #: index is UNSUPPORTED: it founds a
        #: new centroid generation that can change k, which would leave
        #: this cache stale (assignment stays exact — `_assign_two_level`
        #: is exact for any k — but the two-level/flat switch and
        #: super-centroid sizing would be computed from the wrong k).
        #: Recluster between stream runs; a fresh writer re-derives.
        self._params: tuple[int, int] | None = None

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

        if block.isEmpty():
            return  # idle trigger: publish nothing (the term-index rule)
        if self.table.version() < 0:
            SI.build_ann_index(
                block,
                self.table.path,
                target_centroids=self.target_centroids,
                n_shards=self.n_shards,
                vec_col=self.vec_col,
                id_col=self.id_col,
                salt=self.salt,
                corpus_count=self.expected_corpus_rows,
                txn=txn,
            )
        else:
            if self._params is None:
                _, n_shards = SI.ann_index_meta(self.spark, self.table)
                k = self.table.read_where(
                    self.spark, "shard", [SI.ANN_CENT_SHARD]
                ).count()
                self._params = (n_shards, k)
            SI.extend_ann_index(
                block,
                self.table,
                vec_col=self.vec_col,
                id_col=self.id_col,
                salt=self.salt,
                txn=txn,
                params=self._params,
            )


def ann_index_stream(
    spark,
    source: DataFrame,
    index_dir: str,
    checkpoint: str,
    target_centroids: int | None = None,
    expected_corpus_rows: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    salt: str = "ivf:",
):
    """Continuously indexed embedding corpus: the streaming twin of
    `search_index.build_ann_index`/`extend_ann_index` — the first block
    founds the index (fixed centroids), every later block is one atomic
    segment, and `ann_index_lookup` answers at any committed version.
    `expected_corpus_rows` sizes the shard modulus for the corpus the
    stream will accumulate (`shards_for_store`); `target_centroids`
    sizes the centroid sample taken from the FOUNDING block."""
    writer = _AnnIndexStreamWriter(
        spark,
        index_dir,
        writer_id=checkpoint,
        target_centroids=target_centroids,
        expected_corpus_rows=expected_corpus_rows,
        vec_col=vec_col,
        id_col=id_col,
        salt=salt,
    )
    return writer.start(source, checkpoint)


class _IvfPqIndexStreamWriter(_DrainWriter):
    """foreachBatch body for `ivfpq_index_stream`: the IVFPQ twin
    of `_AnnIndexStreamWriter`.  The first non-empty batch FOUNDS the
    index — IVF centroids AND PQ codebooks hash-sampled from it by the
    shared builders — and every later batch is one `extend_ivfpq_index`
    segment: assigned against the fixed centroids, encoded against the
    fixed codebooks, published atomically under a batch-keyed txn.
    Exactly-once, stored-modulus, and fixed-generation contracts are
    the ANN writer's verbatim; the PQ dimension/pq_m parameters only
    seed creation — an existing index's stored meta always wins."""

    _commit_order = ("table",)

    def __init__(
        self,
        spark,
        index_dir: str,
        writer_id: str,
        dim: int,
        m: int = 8,
        target_codes: int = 64,
        target_centroids: int | None = None,
        n_shards: int | None = None,
        expected_corpus_rows: int | None = None,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        ivf_salt: str = "ivf:",
        pq_salt: str = "pq:",
    ):
        super().__init__(spark, writer_id)
        self.table = TransactionalTable(index_dir)
        self.dim = dim
        self.m = m
        self.target_codes = target_codes
        self.target_centroids = target_centroids
        self.expected_corpus_rows = expected_corpus_rows
        if expected_corpus_rows is not None and n_shards is None:
            n_shards = shards_for_store(expected_corpus_rows)
        self.n_shards = n_shards
        self.vec_col = vec_col
        self.id_col = id_col
        self.ivf_salt = ivf_salt
        self.pq_salt = pq_salt
        #: (n_shards, pq_m, dim, k) — all creation-fixed by the extend
        #: contract; derived once on the first extension and passed
        #: back into every later one.  Safe across THIS writer's
        #: maintenance; an EXTERNAL recluster mid-stream is UNSUPPORTED
        #: — see the ANN twin's `_params` note.
        self._params: tuple[int, int, int, int] | None = None

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators import search_index as SI

        if block.isEmpty():
            return  # idle trigger: publish nothing (the term-index rule)
        if self.table.version() < 0:
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
                ivf_salt=self.ivf_salt,
                pq_salt=self.pq_salt,
                corpus_count=self.expected_corpus_rows,
                txn=txn,
            )
        else:
            if self._params is None:
                _, n_shards, pq_m, dim = SI.ivfpq_index_meta(
                    self.spark, self.table
                )
                k = self.table.read_where(
                    self.spark, "shard", [SI.ANN_CENT_SHARD]
                ).count()
                self._params = (n_shards, pq_m, dim, k)
            SI.extend_ivfpq_index(
                block,
                self.table,
                vec_col=self.vec_col,
                id_col=self.id_col,
                ivf_salt=self.ivf_salt,
                txn=txn,
                params=self._params,
            )


def ivfpq_index_stream(
    spark,
    source: DataFrame,
    index_dir: str,
    checkpoint: str,
    dim: int,
    m: int = 8,
    target_codes: int = 64,
    target_centroids: int | None = None,
    expected_corpus_rows: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    ivf_salt: str = "ivf:",
    pq_salt: str = "pq:",
):
    """Continuously indexed IVFPQ corpus: the first block founds
    centroids + codebooks, every later block is one atomic encoded
    segment, and `ivfpq_index_lookup` answers at any committed
    version."""
    writer = _IvfPqIndexStreamWriter(
        spark,
        index_dir,
        writer_id=checkpoint,
        dim=dim,
        m=m,
        target_codes=target_codes,
        target_centroids=target_centroids,
        expected_corpus_rows=expected_corpus_rows,
        vec_col=vec_col,
        id_col=id_col,
        ivf_salt=ivf_salt,
        pq_salt=pq_salt,
    )
    return writer.start(source, checkpoint)


def _resolve_retry_pin(store, txn: str) -> int:
    """Shared crash-window pin rule for the counter/state-store stream
    writers — _DomainCapStreamWriter, _CountMinStreamWriter,
    _UniqStreamWriter (code-review r12: previously triplicated
    verbatim; one copy keeps the exactly-once guarantee provably
    identical across writers).  On a store-committed retry the
    pre-append snapshot is txn_version(txn) - 1 — the current version
    already contains the first attempt's own append, and re-reading it
    would count the block against itself — and a pin folded away by
    log maintenance raises loudly instead of guessing (maintain() runs
    only between fully-committed batches)."""
    if store.txn_committed(txn):
        vc = store.txn_version(txn)
        if vc is None:
            raise RuntimeError(
                f"{store.path}: txn {txn} is committed but its "
                "commit was folded away — cannot reconstruct the "
                "pre-append snapshot a half-committed retry needs "
                "(run maintain() only between fully-committed batches)"
            )
        return vc - 1
    return store.version()


def _overlapped_store_out_commit(
    store,
    store_df: DataFrame,
    store_partition_by: str | None,
    out,
    out_df: DataFrame,
    txn: str,
    store_cas_version: int | None = None,
) -> None:
    """The store-then-out commit pair every two-table drain writer ends
    with, as TWO CONCURRENT staging Spark jobs + ORDERED filesystem
    commits (r16, guide §2.6 — overlap independent jobs).  The r15 form
    ran `store.append_once(...)` then `out.append_once(...)` back to
    back: two driver-synchronized write jobs in sequence, pure serial
    per-block fixed cost.  The crash-window argument those writers rely
    on only constrains COMMIT order (store strictly before out, so a
    death between them replays with the store side a txn no-op) — it
    never constrains STAGING order, because staged files are
    reader-invisible until a commit names them.  So: stage the store
    rows on a side thread while the out rows stage on the caller's
    thread, then publish the two commits in order.  Failure cases:

    - side staging fails -> the out staging's files are discarded
      immediately (they are referenced by no commit; vacuum remains the
      crash backstop) and the side error re-raises — nothing committed;
    - caller-side staging fails -> the side thread is joined FIRST (a
      retried batch must never overlap an orphaned stage job of the
      same txn), its staged files stay orphaned for vacuum, the error
      propagates — nothing committed;
    - death between the commits -> exactly the r15 window: the retry
      re-runs with `store.txn_committed(txn)` true and the out side
      staging + publishing once.

    Each side is skipped when its table already committed `txn` (the
    half-committed retry), degenerating to the single remaining
    `append_once`.  `store_cas_version` passes through to the store
    commit (the generational writers' version-CAS); a rejected CAS
    discards the out staging too and re-raises — nothing committed."""
    import threading

    store_needed = not store.txn_committed(txn)
    out_needed = not out.txn_committed(txn)
    if store_needed and out_needed:
        staged_store: list[list[str]] = []
        stage_exc: list[BaseException] = []

        def _stage_store() -> None:
            try:
                staged_store.append(
                    store.stage_for_append(store_df, store_partition_by)
                )
            except BaseException as e:  # re-raised after join()
                stage_exc.append(e)

        stager = threading.Thread(target=_stage_store, daemon=True)
        stager.start()
        try:
            staged_out = out.stage_for_append(out_df)
        finally:
            stager.join()
        if stage_exc:
            out.discard_staged(staged_out)
            raise stage_exc[0]
        try:
            store.commit_staged(
                staged_store[0],
                txn=txn,
                partition_by=store_partition_by,
                cas_version=store_cas_version,
            )
        except BaseException:
            # the store commit failed (CAS rejection or I/O): the out
            # staging will never be committed — reclaim it now
            out.discard_staged(staged_out)
            raise
        out.commit_staged(staged_out, txn=txn)
    elif store_needed:
        store.append_once(
            store_df,
            txn=txn,
            partition_by=store_partition_by,
            cas_version=store_cas_version,
        )
    elif out_needed:
        out.append_once(out_df, txn=txn)


class _DomainCapStreamWriter(_DrainWriter):
    """foreachBatch body of `domain_cap_stream`: a continuous per-domain
    QUOTA over a crawl feed — keep each registered domain's first `cap`
    arrivals, drop everything after (the streaming twin of
    `dedup.domain_cap`; CCNet-style host capping applied AT INGEST, so an
    over-crawled domain stops costing downstream stages the moment its
    quota fills).

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
    3. Commit the survivors' per-domain increments to the store, THEN the
       survivors to out (the crash-window order every writer here uses).
       The two staging Spark jobs run CONCURRENTLY — only the cheap
       filesystem commits are ordered (`_overlapped_store_out_commit`).

    Exactly-once under retry is the interesting part: survivors are a
    function of the PRE-APPEND counts, so a batch that died between its
    two commits must re-derive the counts its first attempt saw — but the
    current version now INCLUDES that attempt's increments (re-reading it
    would double-count the block against itself and wrongly drop rows the
    first attempt kept).  The store pin is therefore `txn_version(txn)-1`
    on a store-committed retry (the commit our own txn published, located
    by the txlog) and `version()` on the normal path
    (`_resolve_retry_pin`, which raises loudly if maintenance folded
    the pin away rather than guessing).

    NULL reg_domain rows (unparseable URLs) form ONE group — exactly the
    batch operator's `PARTITION BY reg_domain` NULL semantics — hashed
    under a sentinel for shard routing only; output keeps reg_domain
    NULL.

    ``token_mode=True`` turns the quota into a TOKEN budget — the
    streaming twin of `dedup.domain_token_cap`: each row charges
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
    ):
        super().__init__(spark, writer_id)
        if cap < 1:
            raise ValueError("cap must be >= 1")
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
        self._compact(self.store, partition_by="shard", cluster_cols=["reg_domain"])

    def _key(self):
        return F.coalesce(F.col("reg_domain"), F.lit(self._NULL_KEY))

    def _shard(self):
        return F.concat(
            F.lit("d"),
            F.pmod(F.xxhash64(self._key()), F.lit(self.domain_shards)).cast(
                "string"
            ),
        )

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from pyspark.sql import Window as W

        from apache_kafka_clickhouse_demo_spark.operators.dedup import url_parts

        pin = _resolve_retry_pin(self.store, txn)

        if self.token_mode:
            # inline url_parts + the batch operator's exact charge
            # expression (url_parts drops text; one projection, still
            # row-local whole-stage codegen)
            u = F.col(self.url_col)
            valid = u.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
            t = F.trim(F.lower(F.col(self.text_col)))
            charge = F.greatest(
                F.size(F.split(t, r"\s+")), F.lit(1)
            ).cast("long")
            parts = block.select(
                F.col(self.id_col).alias("doc_id"),
                F.when(valid, TX_FN.url_normalize(u)).alias("url_norm"),
                F.when(
                    valid, TX_FN.registered_domain(TX_FN.url_host(u), self.suffixes)
                ).alias("reg_domain"),
                charge.alias("_charge"),
            )
            # running CHARGE within the block per domain — admission is
            # prior + running <= budget, the batch cumsum split at the
            # block boundary
            rank_col = F.sum("_charge").over(
                W.partitionBy(self._key())
                .orderBy("doc_id")
                .rowsBetween(W.unboundedPreceding, W.currentRow)
            )
        else:
            parts = url_parts(block, self.url_col, self.id_col, self.suffixes)
            rank_col = F.row_number().over(
                W.partitionBy(self._key()).orderBy("doc_id")
            ).cast("long")
        ranked = parts.withColumn("_r", rank_col).withColumn(
            "_shard", self._shard()
        )
        # persisted: the domain probe, the survivor join and the
        # increments all consume `ranked` — uncached, the canonicalize+
        # window chain would re-run per consumer; block-bounded
        ranked = ranked.persist()
        # the try begins IMMEDIATELY after the persist, so an exception
        # in the probe or the prior read cannot leak the cached block
        try:
            # ONE bounded driver action: a CAPPED distinct (shard,
            # domain) probe — each domain maps to exactly one shard, so
            # the pair count equals the distinct-domain count, bounded by
            # the MAX+1 limit, never by block size (a 250k-literal isin
            # was measured to hang analysis, so big blocks skip the
            # pushdown instead of building one).  An over-cap block falls
            # back to reading EVERY counter shard — bounded by
            # `domain_shards`, and harmless to the merge: prior domains
            # the block never mentions drop out of the left join.
            pairs = (
                ranked.select("_shard", "reg_domain")
                .distinct()
                .limit(self.MAX_PUSHDOWN_DOMAINS + 1)
                .collect()
            )
            if not pairs:
                # idle trigger: nothing published (a half-committed
                # retry implies the first attempt saw a non-empty block)
                return
            if len(pairs) <= self.MAX_PUSHDOWN_DOMAINS:
                block_shards = sorted({r["_shard"] for r in pairs})
                push = [
                    r["reg_domain"] for r in pairs
                    if r["reg_domain"] is not None
                ]
            else:
                block_shards = [f"d{i}" for i in range(self.domain_shards)]
                push = None
            try:
                prior = self.store.read_where(
                    self.spark, "shard", block_shards, version=pin
                )
                if push is not None:
                    # with maintain()'s domain-sorted shard files this
                    # prunes parquet row groups by min/max stats, so the
                    # read decodes the BLOCK's domains, not every domain a
                    # shard holds (a shard's row count grows with the TOTAL
                    # domain count; the block's does not)
                    prior = prior.filter(
                        F.col("reg_domain").isin(push)
                        | F.col("reg_domain").isNull()
                    )
                prior = prior.groupBy("reg_domain").agg(
                    F.sum("n").alias("_prior")
                )
            except FileNotFoundError:  # no commits at/below the pin — an
                # INDEPENDENT empty frame (deriving it from `ranked` would
                # alias the join's two sides to one lineage -> ambiguous refs)
                prior = self.spark.createDataFrame(
                    [], "reg_domain string, _prior long"
                )

            extra = ["_charge"] if self.token_mode else []
            joined = (
                ranked.alias("r")
                .join(
                    prior.alias("p"),
                    F.col("r.reg_domain").eqNullSafe(F.col("p.reg_domain")),
                    "left",
                )
                .select(
                    F.col("r.doc_id").alias("doc_id"),
                    F.col("r.url_norm").alias("url_norm"),
                    F.col("r.reg_domain").alias("reg_domain"),
                    F.col("r._r").alias("_r"),
                    F.col("r._shard").alias("_shard"),
                    F.coalesce(F.col("p._prior"), F.lit(0)).alias("_prior"),
                    *[F.col(f"r.{c}").alias(c) for c in extra],
                )
            )
            survivors = joined.filter(
                F.col("_prior") + F.col("_r") <= self.cap
            ).withColumn(
                "domain_rank",
                (F.col("_prior") + F.col("_r")).cast(
                    "long" if self.token_mode else "int"
                ),
            )
            # persisted: the increment aggregate and the out append both
            # read the survivor set; block-bounded rows
            survivors = survivors.persist()
            try:
                if self.token_mode:
                    # EVERY seen row's charge accumulates (see the
                    # class docstring's batch-parity argument) — the
                    # aggregate reads `ranked`, not the survivors
                    increments = (
                        ranked.groupBy("_shard", "reg_domain")
                        .agg(F.sum("_charge").cast("long").alias("n"))
                        .select(
                            F.col("_shard").alias("shard"), "reg_domain", "n"
                        )
                    )
                    out_df = survivors.select(
                        "doc_id",
                        "reg_domain",
                        F.col("_charge").alias("doc_tokens"),
                        F.col("domain_rank").alias("cum_tokens"),
                    )
                else:
                    increments = (
                        survivors.groupBy("_shard", "reg_domain")
                        .agg(F.count(F.lit(1)).cast("long").alias("n"))
                        .select(
                            F.col("_shard").alias("shard"), "reg_domain", "n"
                        )
                    )
                    out_df = survivors.select(
                        "doc_id", "url_norm", "reg_domain", "domain_rank"
                    )
                if self.out_files is not None:
                    out_df = out_df.coalesce(self.out_files)
                # CONCURRENT staging, ORDERED commits
                # (`_overlapped_store_out_commit`): the increment
                # aggregate stages on a side thread while the survivors
                # stage here; both read the persisted block caches, and
                # the store commit still strictly precedes the out
                # commit (the crash-window order in the class docstring)
                _overlapped_store_out_commit(
                    self.store,
                    increments.repartition(F.col("shard")),
                    "shard",
                    self.out,
                    out_df,
                    txn,
                )
            finally:
                survivors.unpersist()
        finally:
            ranked.unpersist()


def domain_cap_stream(
    spark,
    source: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    suffixes: tuple[str, ...] = TX_FN.PUBLIC_SUFFIXES,
    domain_shards: int = 16,
    out_files: int | None = None,
    expected_domain_rows: int | None = None,
):
    """Streaming per-domain quota: keep each registered domain's first
    `cap` arrivals from an unbounded crawl feed — the streaming twin of
    `dedup.domain_cap` and the stage a continuously-crawling pipeline
    runs right after `url_dedup_stream`.  Mechanics, exactly-once
    guarantees, and the retry-pin protocol: see `_DomainCapStreamWriter`.
    `expected_domain_rows` sizes the counter store's shard count for the
    number of DISTINCT domains the stream will accumulate
    (`shards_for_store`; one increment row per (block, domain) between
    maintenances, one file per touched shard per block)."""
    if expected_domain_rows is not None:
        domain_shards = shards_for_store(expected_domain_rows)
    writer = _DomainCapStreamWriter(
        spark,
        out_dir,
        store_dir,
        cap=cap,
        url_col=url_col,
        id_col=id_col,
        suffixes=suffixes,
        domain_shards=domain_shards,
        writer_id=checkpoint,
        out_files=out_files,
    )
    return writer.start(source, checkpoint)


def domain_token_cap_stream(
    spark,
    source: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    budget: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    suffixes: tuple[str, ...] = TX_FN.PUBLIC_SUFFIXES,
    domain_shards: int = 16,
    out_files: int | None = None,
    expected_domain_rows: int | None = None,
):
    """Streaming per-domain TOKEN budget: admit each registered
    domain's arrivals while the accumulated greatest(ws_tokens, 1)
    charge stays within `budget` — the streaming twin of
    `dedup.domain_token_cap`, i.e. token-level mixture enforcement AT
    INGEST (an over-crawled domain stops costing downstream stages the
    moment its token budget fills).  Mechanics, the exactly-once retry
    pin, and the all-rows charge accounting that makes an id-ordered
    feed equal the batch operator verbatim: `_DomainCapStreamWriter`
    (token_mode=True)."""
    if expected_domain_rows is not None:
        domain_shards = shards_for_store(expected_domain_rows)
    writer = _DomainCapStreamWriter(
        spark,
        out_dir,
        store_dir,
        cap=budget,
        url_col=url_col,
        id_col=id_col,
        suffixes=suffixes,
        domain_shards=domain_shards,
        writer_id=checkpoint,
        out_files=out_files,
        token_mode=True,
        text_col=text_col,
    )
    return writer.start(source, checkpoint)


class _CountMinStreamWriter(_DrainWriter):
    """foreachBatch body of `count_min_stream`: a continuously-maintained
    count-min sketch over an unbounded feed — the streaming twin of
    `sketches.count_min_build`.  CMS counters are
    LINEAR and merge by per-cell sum, which is exactly the shape of the
    `domain_cap_stream` counter store, so the same architecture carries
    over verbatim:

    State is a COUNTER store: one transactional table of (d, bucket, n)
    increment rows under `shard=c<(d*width + bucket) % cms_shards>`,
    summed per cell at read (merge-on-read; maintenance compacts files,
    never meaning).  Per block:

    1. Build the BLOCK's sketch with the batch operator itself
       (`count_min_build` — provably shared cells/hashes), <=
       depth*width increment rows however large the block, PERSISTED
       and materialized by ONE bounded shard-name collect.
    2. Pin the store, read ONLY the block's touched cell shards at the
       pin (bounded by `cms_shards`), merge prior + block cells, and
       emit per-key running estimates AT INGEST for the block's
       distinct keys — est over everything that has arrived through
       this block (`count_min_lookup` against the merged bounded
       sketch).
    3. ONE atomic publish (the group-commit protocol of the dyadic
       twin): increments (shard `c*`)
       and the block's estimate rows (namespaced shard `o`) union into
       a single frame, staged by ONE write job and committed under ONE
       txn record.

    Exactly-once under retry is structural: a replayed block is
    either fully committed (skip, no jobs) or fully absent — nothing
    of an uncommitted txn is ever visible, so the pre-block snapshot
    IS the current version and there is no half-committed
    `txn_version(txn) - 1` pin case for this writer.

    Because counters are linear and the feed's blocks partition the
    corpus, the DRAINED store's merged sketch equals the batch
    `count_min_build` over the whole feed cell-for-cell — the extra
    `stream_cms_counts` hash-checks exactly that (oracle: the batch
    CMS SQL verbatim).
    """

    #: namespaced shard holding the published estimate rows (store
    #: cells use `c{n}`)
    OUT_SHARD = "o"

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

    def _shard(self):
        return F.concat(
            F.lit("c"),
            F.pmod(
                F.col("d").cast("long") * self.width + F.col("bucket"),
                F.lit(self.cms_shards),
            ).cast("string"),
        )

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

    def out_rows(self, version: int | None = None) -> DataFrame:
        """The published per-block running estimates (batch_id, <key>,
        est) — the former separate out table, now the `o` shard of the
        single atomically-committed store."""
        return self.store.read_where(
            self.spark, "shard", [self.OUT_SHARD], version=version
        ).select("batch_id", self.key_col, "est")

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            count_min_build,
            count_min_lookup,
        )

        # nothing of an uncommitted txn is ever visible (single commit),
        # so the current version IS the pre-block snapshot
        pin = self.store.version()

        inc = count_min_build(
            block, self.key_col, width=self.width, depth=self.depth, salt=self.salt
        ).withColumn("shard", self._shard())
        # persisted, then materialized by ONE bounded collect
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
        inc = inc.persist()
        try:
            inc_rows = inc.select("shard").collect()
            if not inc_rows:
                # all keys NULL: CMS counts non-NULL keys (the batch
                # operator's contract), so there is nothing to count
                # and nothing is published
                return
            block_shards = sorted({r["shard"] for r in inc_rows})
            try:
                prior = self.store.read_where(
                    self.spark, "shard", block_shards, version=pin
                ).select("d", "bucket", "n")
            except FileNotFoundError:  # no commits at/below the pin
                prior = self.spark.createDataFrame([], "d int, bucket int, n long")
            merged = (
                prior.unionByName(inc.select("d", "bucket", "n"))
                .groupBy("d", "bucket")
                .agg(F.sum("n").cast("long").alias("n"))
            )
            keys = (
                block.select(self.key_col)
                .filter(F.col(self.key_col).isNotNull())
                .distinct()
            )
            est = count_min_lookup(
                merged, keys, self.key_col,
                width=self.width, depth=self.depth, salt=self.salt,
            ).select(
                F.lit(self.OUT_SHARD).alias("shard"),
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.col(self.key_col),
                F.col("est"),
            )
            # ONE staged write, ONE commit record naming both shard
            # sets; every file carries the unified column set, so no
            # read ever needs schema merging
            unified = inc.select(
                "shard", "d", "bucket", "n"
            ).unionByName(est, allowMissingColumns=True)
            # CAS on the pinned version (the dyadic twin's hardening):
            # the estimates above were derived from
            # the snapshot at `pin`, so a concurrent appender landing
            # between pin and publish fails this batch loudly instead
            # of publishing estimates that silently miss its increments
            self.store.append_once(
                unified.repartition(F.col("shard")),
                txn=txn,
                partition_by="shard",
                cas_version=pin,
            )
        finally:
            inc.unpersist()


def count_min_stream(
    spark,
    source: DataFrame,
    store_dir: str,
    checkpoint: str,
    key_col: str,
    width: int = 1024,
    depth: int = 4,
    salt: str = "cms:",
    cms_shards: int = 8,
):
    """Continuously-maintained count-min sketch: per-block increments
    and the running point estimates published in ONE atomic commit per
    block to a cell-sharded counter store (estimates under the
    namespaced `o` shard; read back via the writer's `out_rows()`).
    Mechanics, single-commit replay rule, and the drained-store ==
    batch sketch equality: see `_CountMinStreamWriter`."""
    writer = _CountMinStreamWriter(
        spark,
        store_dir,
        key_col=key_col,
        width=width,
        depth=depth,
        salt=salt,
        cms_shards=cms_shards,
        writer_id=checkpoint,
    )
    return writer.start(source, checkpoint)


class _DyadicCmsStreamWriter(_DrainWriter):
    """foreachBatch body of `dyadic_cms_stream`: a continuously-
    maintained dyadic count-min structure over an unbounded feed — the
    streaming twin of `sketches.dyadic_cms_build`, emitting a LIVE
    value-band histogram at ingest (per-block running range counts for
    a fixed band list).  Dyadic CMS counters are linear and merge by
    per-cell sum — `_CountMinStreamWriter`'s counter-store architecture
    carries over verbatim with (level, d, bucket) cells:

    1. Build the BLOCK's structure with the batch operator itself
       (`dyadic_cms_build` — provably shared grid), bounded increment
       rows however large the block, then ONE bounded collect
       (<= (bits+1)*depth*width rows by construction) that detects the
       empty block, materializes the persisted grid for the staged
       write, and hands the driver the block cells.
    2. Merge prior + block cells DRIVER-side against the mirrored
       committed grid (`_prior_cells` — rebuilt from one bounded store
       read on restart/replay, advanced only after a successful
       commit), and derive the ranges' running estimates and the
       quantile walk in pure integer Python (`dyadic_range_counts_py` /
       `dyadic_quantiles_py` — the batch operators' exact rules) instead
       of re-reading prior shards and re-aggregating per block.
    3. ONE atomic publish (group commit): the increments (shard `y*`)
       and the estimate rows (namespaced shard `o`) are union'd into
       a single frame — every file carries the unified column set, so
       reads never need schema merging — staged by ONE write job, and
       committed under ONE txn record naming both shard sets.  There
       is no two-commit crash window: a replayed block is either
       fully committed (skip, no jobs) or fully absent (recompute
       against a pre-block snapshot — the retry pin degenerates to the
       current version, since nothing of an uncommitted txn is ever
       visible).

    Drained store == the batch structure cell-for-cell (linearity +
    blocks partition the feed), so the final range estimates equal the
    batch `dyadic_range_counts` verbatim — the extra
    `stream_range_counts` hash-checks exactly that, oracle unchanged.
    """

    #: namespaced shard holding the published estimate rows (store
    #: cells use `y{n}`)
    OUT_SHARD = "o"
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
        #: driver-resident merged grid {(level, d, bucket): n} of the
        #: COMMITTED store — bounded at <= (universe_bits+1)*depth*width
        #: cells by construction whatever has ever arrived (the batch
        #: operator's boundedness argument).  Maintained by the single
        #: sequential foreachBatch writer: set from a store read on
        #: first use (restart/replay), advanced only AFTER a successful
        #: commit, so it always mirrors the committed state exactly —
        #: a failed append leaves it at the pre-block snapshot and the
        #: retry re-derives against that, preserving the exactly-once
        #: replay contract unchanged.
        #: CAS-ANCHORED: `_mem_version` records the
        #: store version the mirror equals; `_prior_cells` serves it
        #: only at a matching pin, and every publish CASes on that
        #: version — a contract-violating concurrent appender now fails
        #: the batch loudly (the topk/reservoir/pack-bins discipline)
        #: instead of silently diverging estimates from a stale mirror.
        self._mem: dict[tuple[int, int, int], int] | None = None
        self._mem_version: int = -2  # never a valid table version

    def maintain(self) -> None:
        super().maintain()
        if self._mem is not None:
            # the retention rewrite advanced the version; the mirror's
            # CONTENT is unchanged (compaction preserves the merge-on-
            # read sums), so re-anchor instead of forcing a re-read
            self._mem_version = self.store.version()

    def _shard(self):
        return F.concat(
            F.lit("y"),
            F.pmod(
                (F.col("level").cast("long") * self.depth + F.col("d"))
                * self.width
                + F.col("bucket"),
                F.lit(self.cms_shards),
            ).cast("string"),
        )

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

    def out_rows(self, version: int | None = None) -> DataFrame:
        """The published running band estimates (batch_id, range_id,
        lo, hi, est) — the former separate out table, now the `o` shard
        of the single atomically-committed store."""
        return self.store.read_where(
            self.spark, "shard", [self.OUT_SHARD], version=version
        ).select("batch_id", "range_id", "lo", "hi", "est")

    def quantile_rows(self, version: int | None = None) -> DataFrame:
        """The published running quantiles (batch_id, p_permille,
        target_rank, q_value) — the `q` shard of the single
        atomically-committed store (empty unless the writer was
        constructed with `ps`)."""
        return self.store.read_where(
            self.spark, "shard", [self.QOUT_SHARD], version=version
        ).select("batch_id", "p_permille", "target_rank", "q_value")

    def quantiles(self) -> DataFrame:
        """Current quantile estimates from the drained store — the r13
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
        """The committed store's merged grid as a driver dict — from
        memory when this writer has seen it (the sequential-writer
        invariant: `_mem` is advanced only after a successful commit,
        so it equals the committed state at `pin`), else rebuilt from
        ONE bounded read of every cell shard (restart/replay path).
        Increment rows are summed per cell — counters are linear.
        The mirror is served ONLY when its anchored version matches the
        pin: any other version means someone else advanced the
        store, and the bounded re-read is the correct recovery."""
        if self._mem is not None and self._mem_version == pin:
            return self._mem
        cells: dict[tuple[int, int, int], int] = {}
        try:
            rows = (
                self.store.read_where(
                    self.spark,
                    "shard",
                    [f"y{i}" for i in range(self.cms_shards)],
                    version=pin,
                )
                .select("level", "d", "bucket", "n")
                .collect()
            )
        except FileNotFoundError:  # no commits at/below the pin
            rows = []
        for r in rows:
            key = (r["level"], r["d"], r["bucket"])
            cells[key] = cells.get(key, 0) + r["n"]
        self._mem = cells  # committed state — safe to keep on failure
        self._mem_version = pin
        return cells

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.operators.sketches import (
            dyadic_cms_build,
            dyadic_quantiles_py,
            dyadic_range_counts_py,
        )

        # nothing of an uncommitted txn is ever visible (single commit),
        # so the current version IS the pre-block snapshot — no
        # half-committed pin case exists for this writer
        pin = self.store.version()

        inc = dyadic_cms_build(
            block,
            self.value_col,
            universe_bits=self.universe_bits,
            width=self.width,
            depth=self.depth,
            salt=self.salt,
        ).withColumn("shard", self._shard())
        # persisted, then materialized by ONE bounded collect
        # (<= (bits+1)*depth*width rows by construction): it detects
        # the empty block, hands the driver the block cells for the
        # merge below, and leaves the cache populated so the staged
        # write's increment branch reads it instead of re-running the
        # block aggregate.
        inc = inc.persist()
        try:
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
            merged = dict(self._prior_cells(pin))
            for r in block_rows:
                key = (r["level"], r["d"], r["bucket"])
                merged[key] = merged.get(key, 0) + r["n"]
            est = dyadic_range_counts_py(
                merged,
                self.ranges,
                universe_bits=self.universe_bits,
                width=self.width,
                depth=self.depth,
                salt=self.salt,
            )
            est_df = self.spark.createDataFrame(
                [
                    (self.OUT_SHARD, int(batch_id), rid, lo, hi, e)
                    for rid, lo, hi, e in est
                ],
                "shard string, batch_id long, range_id int, lo long, "
                "hi long, est long",
            )
            # ONE staged write, ONE commit record naming both shard
            # sets; every parquet file carries the unified column set
            # (cell columns NULL on estimate rows and vice versa), so
            # no read ever needs schema merging
            unified = inc.select(
                "shard", "level", "d", "bucket", "n"
            ).unionByName(est_df, allowMissingColumns=True)
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
                q_df = self.spark.createDataFrame(
                    [
                        (self.QOUT_SHARD, int(batch_id), p, tr, qv)
                        for p, tr, qv in qrows
                    ],
                    "shard string, batch_id long, p_permille int, "
                    "target_rank long, q_value long",
                )
                unified = unified.unionByName(q_df, allowMissingColumns=True)
            # CAS on the pinned version: a concurrent
            # appender advancing the store between our pin and this
            # publish fails the batch loudly — the retry re-pins and
            # rebuilds the mirror below — instead of the mirror silently
            # diverging from the sibling's committed cells
            try:
                self.store.append_once(
                    unified.repartition(F.col("shard")),
                    txn=txn,
                    partition_by="shard",
                    cas_version=pin,
                )
            except ConcurrentWriteError:
                self._mem = None
                raise
            # commit landed: advance the driver-resident mirror
            self._mem = merged
            self._mem_version = pin + 1
        finally:
            inc.unpersist()


def dyadic_cms_stream(
    spark,
    source: DataFrame,
    store_dir: str,
    checkpoint: str,
    value_col: str,
    ranges: list[tuple[int, int, int]],
    universe_bits: int = 16,
    width: int = 2048,
    depth: int = 3,
    salt: str = "dcms:",
    cms_shards: int = 8,
    ps: list[int] | None = None,
):
    """Continuously-maintained dyadic count-min structure: per-block
    increments and the live value-band histogram (running range counts
    for the fixed `ranges`) published in ONE atomic commit per block to
    a cell-sharded counter store (estimates under the namespaced `o`
    shard; read them back via the writer's `out_rows()`).  Pass `ps`
    (permille fractions) to ALSO publish running quantiles per block —
    the dyadic descent over the same pre-append snapshot + block
    cells, in the same single commit (namespaced shard `q`, read back
    via `quantile_rows()`).  Mechanics,
    single-commit replay rule, and the drained-store == batch-structure
    equality: see `_DyadicCmsStreamWriter`."""
    writer = _DyadicCmsStreamWriter(
        spark,
        store_dir,
        value_col=value_col,
        ranges=ranges,
        universe_bits=universe_bits,
        width=width,
        depth=depth,
        salt=salt,
        cms_shards=cms_shards,
        writer_id=checkpoint,
        ps=ps,
    )
    return writer.start(source, checkpoint)


class _UniqStreamWriter(_DrainWriter):
    """foreachBatch body of `uniq_stream`: continuously-maintained
    per-group approximate count-distinct — the streaming twin of the
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
    block's own), then ONE atomic publish (the group-commit protocol
    of the dyadic/CMS twins): state rows (shard `u*`)
    and estimate rows (namespaced shard `o`) staged by one write job
    under one txn record.  A replayed block is fully committed (skip)
    or fully absent (recompute against the current version, which IS
    the pre-block snapshot) — there is no half-committed pin case.

    The drained store's per-group union is register-identical to the
    batch whole-input sketch, so the final estimates equal
    `q_uniq_users_approx`'s verbatim — extra `stream_uniq_users`
    hash-checks against that oracle unchanged (exact COUNT(DISTINCT)
    in the sketch's coupon-exact regime at gate scale).
    """

    _NULL_KEY = "\x00 null-group"

    #: namespaced shard holding the published estimate rows (state
    #: rows use `u{n}`)
    OUT_SHARD = "o"

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

    def _shard(self):
        key = F.coalesce(F.col(self.group_col).cast("string"), F.lit(self._NULL_KEY))
        return F.concat(
            F.lit("u"),
            F.pmod(F.xxhash64(key), F.lit(self.uniq_shards)).cast("string"),
        )

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

    def out_rows(self, version: int | None = None) -> DataFrame:
        """The published per-block running estimates (batch_id, <group>,
        approx_uniq) — the former separate out table, now the `o` shard
        of the single atomically-committed store."""
        return self.store.read_where(
            self.spark, "shard", [self.OUT_SHARD], version=version
        ).select("batch_id", self.group_col, "approx_uniq")

    def _process(self, block: DataFrame, batch_id: int, txn: str) -> None:
        from apache_kafka_clickhouse_demo_spark.functions import agg_state as S

        if block.isEmpty():
            return
        # nothing of an uncommitted txn is ever visible (single commit)
        pin = self.store.version()

        inc = (
            block.groupBy(self.group_col)
            .agg(S.uniq_state(self.key_col, self.lg_k).alias("state"))
            .withColumn("shard", self._shard())
        )
        # persisted: the shard collect materializes the per-group state
        # rows (<= block's distinct groups); the staged write's two
        # branches then read the cache.  A local-frame form (collect the
        # binary states, publish them from a LocalTableScan) MEASURED
        # ~1.75x SLOWER here in isolated warm A/B (5.98 -> 10.47 s
        # min-of-5) — collecting and re-uploading HLL sketch binaries
        # per block costs more than the two driver actions it saves, the
        # count-min LocalTableScan lesson repeated on the state-store
        # side — so this writer keeps the distributed dataflow.
        inc = inc.persist()
        try:
            block_shards = sorted(
                (inc.agg(F.collect_set("shard")).first()[0]) or []
            )
            gtype = block.schema[self.group_col].dataType.simpleString()
            try:
                prior = self.store.read_where(
                    self.spark, "shard", block_shards, version=pin
                ).select(self.group_col, "state")
            except FileNotFoundError:
                prior = self.spark.createDataFrame(
                    [], f"{self.group_col} {gtype}, state binary"
                )
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
            # ONE staged write, ONE commit record naming both shard sets
            unified = inc.select(
                "shard", self.group_col, "state"
            ).unionByName(est, allowMissingColumns=True)
            self.store.append_once(
                unified.repartition(F.col("shard")),
                txn=txn,
                partition_by="shard",
            )
        finally:
            inc.unpersist()


def uniq_stream(
    spark,
    source: DataFrame,
    store_dir: str,
    checkpoint: str,
    group_col: str,
    key_col: str,
    lg_k: int = 12,
    uniq_shards: int = 8,
):
    """Continuously-maintained per-group HLL count-distinct: per-block
    `uniqState` rows and the running estimates published in ONE atomic
    commit per block to a group-sharded state store (estimates under
    the namespaced `o` shard; read back via the writer's `out_rows()`).
    Mechanics, single-commit replay rule, and the drained-store ==
    batch sketch register-identity: see `_UniqStreamWriter`."""
    writer = _UniqStreamWriter(
        spark,
        store_dir,
        group_col=group_col,
        key_col=key_col,
        lg_k=lg_k,
        uniq_shards=uniq_shards,
        writer_id=checkpoint,
    )
    return writer.start(source, checkpoint)


class _PackBinsStreamWriter(_DrainWriter):
    """foreachBatch body of `pack_bins_stream`: streaming first-fit bin
    packing at INGEST — the packing family's streaming twin.
    Training-data pipelines pack while they ingest, not only
    in batch: each arriving block's documents pack into their buckets'
    OPEN bins the moment they land, so a downstream dataloader can
    start reading full bins without waiting for the corpus to close.

    State is a GENERATIONAL open-bin snapshot (the reservoir-store
    discipline), NOT an append-only counter store: bin fills are
    read-modify-write and — decisively — the set of bins ever created
    grows with the corpus, so any design whose per-block read touches
    all historical bins is unbounded at 100 TB (the first cut of this
    writer had exactly that flaw; caught by the open-bin accounting
    below, rewritten before it shipped a scale claim).  Each block
    commits generation g+1 = the post-block OPEN bins only, bounded by
    construction:

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
    `overflow`, and close immediately), then commit the new snapshot
    generation (append_once + version-CAS — concurrent writers
    rejected) and THEN the assignment rows to out, with
    `_resolve_retry_pin`'s rule: assignments are a function of the
    PRE-block snapshot, so a half-committed retry re-reads the
    generation at `txn_version - 1` and re-derives byte-identical out
    rows.

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
    (max_open + 1)-row latest generation; per-bucket fold cost is
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
        #: driver-resident (gen, version) of the newest COMMITTED
        #: snapshot generation — the reservoir mirror's protocol
        #: (advanced only after a successful publish, rebuilt on first
        #: use, invalidated on a lost CAS race); drops the per-block
        #: max(gen) driver action.
        self._mem: tuple[int, int] | None = None

    def maintain(self) -> None:
        v = self._compact_to_generation(None if self._mem is None else self._mem[0])
        if v is not None and self._mem is not None:
            self._mem = (self._mem[0], v)  # re-anchor; content unchanged

    def _latest(self, version: int | None = None):
        """(open-bin frame, gen, snapshot version) at a committed
        version — the reservoir `_latest` discipline (mirror-served
        when the requested version IS the mirrored one; a retry pin at
        an older version always re-reads)."""
        snap_v = self.store.version() if version is None else version
        if self._mem is not None and self._mem[1] == snap_v:
            gen = self._mem[0]
            stored = self.store.read(self.spark, version=snap_v)
            return stored.filter(F.col("gen") == gen).drop("gen"), gen, snap_v
        if snap_v < 0:
            return None, -1, snap_v
        try:
            stored = self.store.read(self.spark, version=snap_v)
        except FileNotFoundError:
            return None, -1, snap_v
        gen = stored.agg(F.max("gen")).first()[0]
        if gen is None:
            return None, -1, snap_v
        if version is None:
            self._mem = (int(gen), snap_v)
        return stored.filter(F.col("gen") == gen).drop("gen"), int(gen), snap_v

    def open_bins(self, version: int | None = None) -> DataFrame:
        """The current OPEN bins: (bucket, bin_id, fill) — the bounded
        snapshot, sentinels excluded."""
        latest, _gen, _v = self._latest(version)
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

        pin = _resolve_retry_pin(self.store, txn)

        src = block.select(
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
        )
        # persisted: the emptiness probe and the pack shuffle both read it
        src = src.persist()
        try:
            # bounded driver action: is there anything countable at all?
            # (a half-committed retry's first attempt already saw rows)
            if not self._resumed and src.isEmpty():
                return  # every row dropped by the batch contract
            prev, prev_gen, _v = self._latest(pin)
            if prev is None:
                prior = self.spark.createDataFrame(
                    [], "bucket long, prior_bin long, prior_fill long"
                )
            else:
                # the WHOLE snapshot rides into the pack: untouched
                # buckets' bins (and sentinels) must carry forward into
                # generation g+1 — the frame is <= buckets *
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
            packed = unioned.groupBy("bucket").applyInPandas(
                self._pack_fn(), out_schema
            )
            # persisted: the snapshot write and the out append both read
            # the fold's output; <= block + buckets*(max_open+1) rows
            packed = packed.persist()
            try:
                snapshot = packed.filter(F.col("is_open")).select(
                    F.lit(prev_gen + 1).cast("long").alias("gen"),
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
                # CONCURRENT staging, ORDERED commits: snapshot and
                # assignment rows both read the persisted fold output;
                # the snapshot's version-CAS commit still strictly
                # precedes the out commit
                try:
                    _overlapped_store_out_commit(
                        self.store,
                        snapshot,
                        None,
                        self.out,
                        out_df,
                        txn,
                        store_cas_version=_v,
                    )
                except ConcurrentWriteError:
                    # a sibling advanced the store past our mirror:
                    # drop it so a retry re-reads the sibling's commit
                    self._mem = None
                    raise
                # both commits landed: generation prev_gen+1 is committed
                # at version _v+1 whichever attempt published it (on a
                # half-committed retry the pin rule guarantees the same
                # pair)
                self._mem = (prev_gen + 1, _v + 1)
            finally:
                packed.unpersist()
        finally:
            src.unpersist()


def pack_bins_stream(
    spark,
    source: DataFrame,
    out_dir: str,
    store_dir: str,
    checkpoint: str,
    capacity: int,
    buckets: int = 64,
    salt: str = "ffd:",
    id_col: str = "doc_id",
    n_col: str = "n_tokens",
    close_below: int | None = None,
    max_open: int = 64,
):
    """Streaming first-fit bin packing: each block's documents pack
    into their buckets' open bins at ingest; the bounded open-bin
    snapshot commits as a new generation and the assignment rows go to
    out exactly-once.  Mechanics, state bounds, the retry-pin
    protocol, and the bucket-aligned batch-equality pin: see
    `_PackBinsStreamWriter`."""
    writer = _PackBinsStreamWriter(
        spark,
        out_dir,
        store_dir,
        capacity=capacity,
        buckets=buckets,
        salt=salt,
        id_col=id_col,
        n_col=n_col,
        close_below=close_below,
        max_open=max_open,
        writer_id=checkpoint,
    )
    return writer.start(source, checkpoint)
