"""Transactional append-only table — atomic commits over plain parquet.

Why this exists (VERDICT r02 / streaming/pipeline.py's backfill note): plain
parquet appends stage task files under a SHARED `<table>/_temporary/`
directory, so two concurrent writers (a streaming MV block + a backfill
`INSERT ... SELECT`) can delete each other's in-flight files — the race that
forces `backfill_cutover` to sequence its two phases.  Real clusters solve
this with a transactional table format (Delta/Iceberg); this module is the
same commit protocol reduced to its core, with no new dependencies:

    <table>/
      _txlog/
        00000000000.json     # commit 0: {"files": ["<uuid>-part-...parquet", ...]}
        00000000001.json     # commit 1: ...
      <uuid>-part-0.parquet  # data files (immutable once committed)

- A writer stages its parquet files in a PRIVATE scratch directory (its own
  `_temporary/` — no sharing, no race), moves them into the table directory
  under unique names, then publishes them by writing the full commit JSON
  to a hidden temp file and hard-linking it to the next numbered commit
  name.  link(2) fails with EEXIST if the version is taken (same OCC loop
  as an O_EXCL create) and — unlike create-then-write — publishes the
  payload atomically: a commit file either does not exist or is complete,
  so a reader listing the log mid-commit, or after a writer crashed between
  create and write, can never open a truncated commit.  Nothing a reader
  can observe is ever half-written.
- Readers list `_txlog/*.json` (optionally up to a pinned version — free
  snapshot/time-travel) and read exactly the files those commits name.
  Uncommitted data files and leftover staging directories are invisible.

Concurrency model: optimistic, append-only (the OCC loop every log-based
table format uses).  On a shared filesystem/object store with atomic
create-if-absent this protocol is correct for any number of concurrent
writers; at 100 TB scale the log stays tiny (one small JSON per commit)
and readers pay one listing, independent of data size.  A long-running
streaming MV commits once per block, so the log does grow — `checkpoint()`
collapses every commit up to a version into one summary file (readers then
skip the per-commit JSONs), exactly Delta's log-checkpoint mechanism.

Round 6 additions (VERDICT r5 #1/#3):

- **Partitioned layout** (`append(..., partition_by=...)`): data files land
  under Hive-style `<col>=<value>/` subdirectories, and `read_where()`
  reads ONLY the committed files whose partition value is in a given set —
  driver-side file pruning straight off the commit log, no directory
  listing, no Spark partition discovery.  This is what lets a streaming
  dedup block touch O(colliding buckets) of an ever-growing signature
  store instead of rescanning all of it.  Partition columns must not start
  with `_` or `.` (Spark readers skip such directories).
- **Idempotent commits** (`append_once(df, txn=...)`): each commit can
  carry an application transaction id; `append_once` no-ops when that id
  is already in the log.  foreachBatch sinks are at-least-once — keying
  the txn by `_batch_id` makes a retried micro-batch read-back identical
  instead of appending duplicates (the Delta `txn`/`idempotent writes`
  mechanism reduced to its core).  Assumes retries of one txn are
  sequential (Spark never runs the same micro-batch concurrently).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txlog"
_VERSION_DIGITS = 11


def _newest_mtime(root: str) -> float:
    """Newest mtime anywhere under `root` (the dir itself included): the
    liveness signal for staging trees whose writes happen in nested
    `_temporary/` dirs that never touch the top-level mtime.  A root that
    vanishes mid-check (its writer finished concurrently) reads as
    brand-new — the caller must then SKIP it, never abort (code-review
    r6: the unguarded getmtime crashed a concurrent vacuum)."""
    import time

    try:
        newest = os.path.getmtime(root)
    except OSError:  # vanished: treat as young so the caller leaves it alone
        return time.time()
    for dirpath, _dirnames, filenames in os.walk(root):
        try:
            newest = max(newest, os.path.getmtime(dirpath))
            for fn in filenames:
                newest = max(newest, os.path.getmtime(os.path.join(dirpath, fn)))
        except OSError:  # entry vanished mid-walk (concurrent cleanup)
            continue
    return newest


def _fsync_dir(path: str) -> None:
    """fsync a directory so a just-created/renamed entry survives power
    loss (a process crash never loses it — the entry is in the page
    cache — but an acknowledged commit must also survive the machine
    dying; code-review r6).  Best-effort: some filesystems refuse
    directory fds."""
    try:
        fd = os.open(path, os.O_RDONLY)
    except OSError:
        return
    try:
        os.fsync(fd)
    except OSError:
        pass
    finally:
        os.close(fd)


class ConcurrentWriteError(RuntimeError):
    """A compare-and-swap append found the table already advanced past the
    caller's read snapshot (see `TransactionalTable.append(cas_version=…)`)."""


class TransactionalTable:
    """Handle for an atomic-append parquet table rooted at `path`."""

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, _LOG_DIR)

    # -- log helpers --------------------------------------------------------

    def _log_entries(self) -> tuple[int | None, list[tuple[int, str]]]:
        """(latest checkpoint version or None, [(version, commit path)...])."""
        if not os.path.isdir(self.log_dir):
            return None, []
        ckpt_versions = sorted(
            int(n.split(".")[0])
            for n in os.listdir(self.log_dir)
            if n.endswith(".checkpoint.json")
        )
        commits = sorted(
            (int(n.split(".")[0]), os.path.join(self.log_dir, n))
            for n in os.listdir(self.log_dir)
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
        )
        return (ckpt_versions[-1] if ckpt_versions else None), commits

    def version(self) -> int:
        """Latest committed version, -1 for an empty/new table."""
        ckpt, commits = self._log_entries()
        latest = max([c for c, _ in commits], default=-1)
        return max(latest, ckpt if ckpt is not None else -1)

    def data_files(self, up_to_version: int | None = None) -> list[str]:
        ckpt, commits = self._log_entries()
        files: list[str] = []
        # start from the newest checkpoint at or below the requested version
        if ckpt is not None and (up_to_version is None or ckpt <= up_to_version):
            with open(os.path.join(self.log_dir, self._ckpt_name(ckpt))) as fh:
                files.extend(json.load(fh)["files"])
            floor = ckpt
        else:
            floor = -1
        for v, commit in commits:
            if v <= floor:
                continue
            if up_to_version is not None and v > up_to_version:
                continue
            with open(commit) as fh:
                payload = json.load(fh)
            if payload.get("replaces") is not None:
                # optimize() commit: its files REPLACE everything before it
                files = list(payload["files"])
            else:
                files.extend(payload["files"])
        return [os.path.join(self.path, f) for f in files]

    def _txn_state(self) -> tuple[set[str], dict[str, int]]:
        """(explicit txn ids, per-writer batch watermarks).  Commits at or
        below the newest checkpoint are NOT reopened — their txns are in
        the checkpoint's summary (verbatim, or compacted to watermarks) —
        so after a `checkpoint()` this costs O(commits since checkpoint),
        not O(stream lifetime)."""
        ckpt, commits = self._log_entries()
        txns: set[str] = set()
        marks: dict[str, int] = {}
        floor = -1
        if ckpt is not None:
            with open(os.path.join(self.log_dir, self._ckpt_name(ckpt))) as fh:
                payload = json.load(fh)
            txns.update(payload.get("txns", []))
            marks.update(payload.get("txn_watermarks", {}))
            floor = ckpt
        for v, commit in commits:
            if v <= floor:
                continue
            with open(commit) as fh:
                txn = json.load(fh).get("txn")
            if txn is not None:
                txns.add(txn)
        return txns, marks

    def commit_files(self, version: int) -> list[str] | None:
        """TABLE-RELATIVE file names of exactly one commit, or None when
        that commit's JSON is gone (folded into a checkpoint + pruned).
        Bounded driver work: one small JSON read — lets a writer that just
        committed partitioned data recover WHICH partition dirs it touched
        without running a Spark job over the data (streaming/stateful.py
        derives a block's band shards this way, r8)."""
        path = os.path.join(self.log_dir, f"{version:0{_VERSION_DIGITS}d}.json")
        try:
            with open(path) as fh:
                return list(json.load(fh)["files"])
        except (FileNotFoundError, KeyError):
            return None

    def committed_txns(self) -> set[str]:
        """The EXPLICITLY recorded txn ids (commit `txn` fields plus a
        checkpoint's verbatim `txns` list).  Watermark-compacted ids (see
        `checkpoint(compact_txn_watermarks=True)`) are not enumerated here
        — membership for those goes through `txn_committed`, which
        `append_once` uses."""
        txns, _marks = self._txn_state()
        return txns

    def txn_version(self, txn: str) -> int | None:
        """The VERSION of the commit that recorded `txn`, or None when it
        is unknown (never committed, or its commit JSON was folded into a
        checkpoint and pruned).  Bounded driver work: one small JSON read
        per live commit.  This is what lets a half-committed stream batch
        re-derive its ORIGINAL pre-append snapshot on retry (pin at
        txn_version - 1): a counter-style writer that re-read at the
        current version would see its own first attempt's rows and make
        DIFFERENT decisions than the attempt that already published them."""
        _ckpt, commits = self._log_entries()
        for v, commit in commits:
            try:
                with open(commit) as fh:
                    if json.load(fh).get("txn") == txn:
                        return v
            except (FileNotFoundError, json.JSONDecodeError):
                continue
        return None

    def txn_committed(self, txn: str) -> bool:
        """True iff `txn` was committed: an explicit id match, or — for
        `<writer>:<batch>` ids — batch at or below the writer's
        checkpointed watermark."""
        txns, marks = self._txn_state()
        if txn in txns:
            return True
        writer, sep, num = txn.rpartition(":")
        return bool(sep) and num.isdigit() and marks.get(writer, -1) >= int(num)

    @staticmethod
    def _ckpt_name(version: int) -> str:
        return f"{version:0{_VERSION_DIGITS}d}.checkpoint.json"

    def _publish(self, payload: bytes, dest_path: str) -> bool:
        """Atomically publish `payload` at `dest_path` (ADVICE r3): write a
        uniquely-named temp file in the log dir, then hard-link it to the
        final name.  link() is atomic and fails with FileExistsError when
        the name is taken, which preserves the OCC version race; because the
        payload is complete before the name exists, readers can never
        observe a partially-written commit — even if this process dies at
        any point (the leftover is an invisible `.tmp-*` file, not a
        truncated commit).  Returns False if the name was already taken."""
        tmp = os.path.join(self.log_dir, f".tmp-{uuid.uuid4().hex[:12]}")
        with open(tmp, "wb") as fh:
            fh.write(payload)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, dest_path)
            _fsync_dir(self.log_dir)  # the commit must survive power loss
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def checkpoint(self, compact_txn_watermarks: bool = False) -> int:
        """Collapse the log: write one summary file listing every data file
        committed up to the current version.  Readers then open ONE file
        plus any later commits instead of the whole commit history; older
        commit JSONs become redundant (kept by default — so pinned
        snapshot reads below the checkpoint keep working; `prune_log`
        reclaims them when that trade is acceptable).  Concurrent appends
        are safe: they only add commits NEWER than the version being
        checkpointed, and the checkpoint file itself is published with
        the same O_EXCL create.

        `compact_txn_watermarks=True` folds `<writer>:<batch>` txn ids
        into one per-writer high-water mark instead of carrying every id
        ever seen — the Delta appId->version model, bounding the
        checkpoint and every idempotence check at O(writers) instead of
        O(stream lifetime) (code-review r6).  ONLY sound when each
        writer's batch numbers are monotonic with sequential retries
        (foreachBatch's contract: a watermark claims every batch at or
        below it committed); leave it off for arbitrary txn id schemes.
        The table's partition layout (`append(partition_by=...)`) is
        carried into the summary either way, so `optimize()` can default
        to it."""
        version = self.version()
        if version < 0:
            raise FileNotFoundError(f"nothing to checkpoint in {self.path}")
        files = [os.path.relpath(f, self.path) for f in self.data_files(version)]
        txns, marks = self._txn_state()
        if compact_txn_watermarks:
            keep: set[str] = set()
            for t in txns:
                writer, sep, num = t.rpartition(":")
                if sep and num.isdigit():
                    marks[writer] = max(marks.get(writer, -1), int(num))
                else:
                    keep.add(t)
            txns = keep
        summary: dict = {"files": sorted(files), "txns": sorted(txns)}
        if marks:
            summary["txn_watermarks"] = marks
        pcol = self.partition_column()
        if pcol:
            summary["partition_by"] = pcol
        payload = json.dumps(summary).encode()
        ckpt_path = os.path.join(self.log_dir, self._ckpt_name(version))
        # lost the race -> an identical checkpoint already exists: fine
        self._publish(payload, ckpt_path)
        return version

    def partition_column(self) -> str | None:
        """The partition column this table's appends declared, read from
        the newest commit that recorded one (or the newest checkpoint's
        summary).  None for an unpartitioned table."""
        ckpt, commits = self._log_entries()
        for _v, commit in sorted(commits, reverse=True):
            with open(commit) as fh:
                pcol = json.load(fh).get("partition_by")
            if pcol:
                return pcol
        if ckpt is not None:
            with open(os.path.join(self.log_dir, self._ckpt_name(ckpt))) as fh:
                return json.load(fh).get("partition_by")
        return None

    def prune_log(self) -> list[str]:
        """Delete commit JSONs at or below the newest checkpoint — their
        content is folded into the summary.  Bounds the log-dir listing
        cost (`_log_entries` is called several times per batch) at
        O(commits since checkpoint) for a forever-stream; the trade is
        that snapshot reads pinned BELOW the checkpoint stop resolving,
        same as `vacuum()`'s trade for pre-optimize data files.  Returns
        the deleted file names."""
        ckpt, commits = self._log_entries()
        if ckpt is None:
            return []
        deleted = []
        for v, commit in commits:
            if v <= ckpt:
                try:
                    os.remove(commit)
                    deleted.append(os.path.basename(commit))
                except OSError:  # concurrent prune
                    pass
        return deleted

    # -- write path ---------------------------------------------------------

    def _stage(self, df: DataFrame, partition_by: str | None) -> list[str]:
        """Write `df` to a private staging dir, move its parquet files into
        the table under unique names (preserving `<col>=<value>/` partition
        subdirectories when `partition_by` is given), and return the moved
        files' table-relative paths.  The files are invisible to readers
        until a commit names them."""
        token = uuid.uuid4().hex[:12]
        staging = os.path.join(self.path, f".staging-{token}")
        try:
            writer = df.write.mode("overwrite")
            if partition_by:
                if partition_by[0] in "._":
                    # Spark file indexes skip `_*`/`.*` directories — a
                    # partition dir named `_shard=3` would be unreadable
                    raise ValueError(
                        f"partition column {partition_by!r} must not start with '_' or '.'"
                    )
                writer = writer.partitionBy(partition_by)
            writer.parquet(staging)
            moved: list[str] = []
            for dirpath, _dirs, names in os.walk(staging):
                rel_dir = os.path.relpath(dirpath, staging)
                for name in names:
                    if not name.endswith(".parquet"):
                        continue
                    rel = name if rel_dir == "." else os.path.join(rel_dir, name)
                    unique = os.path.join(
                        os.path.dirname(rel) if rel_dir != "." else "",
                        f"{token}-{name}",
                    )
                    os.makedirs(
                        os.path.dirname(os.path.join(self.path, unique)) or self.path,
                        exist_ok=True,
                    )
                    dest = os.path.join(self.path, unique)
                    os.rename(os.path.join(staging, rel), dest)
                    # rename PRESERVES the staging-phase mtime: a write
                    # phase longer than vacuum's grace window would land
                    # files that already look expired, and a concurrent
                    # vacuum could delete them before the commit publishes
                    # (code-review r6).  Stamp move time so age is
                    # measured from here.
                    try:
                        os.utime(dest)
                    except OSError:
                        pass
                    moved.append(unique)
            for d in {os.path.dirname(os.path.join(self.path, u)) or self.path for u in moved}:
                _fsync_dir(d)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return moved

    def append(
        self,
        df: DataFrame,
        max_retries: int = 50,
        partition_by: str | None = None,
        txn: str | None = None,
        cas_version: int | None = None,
    ) -> int:
        """Atomically append `df`; returns the committed version.

        Stage (private dir) -> move files in under unique names -> publish
        via O_EXCL commit-file create, retrying the version number under
        contention.  Readers never see the data until the commit lands.
        `partition_by` lays the files out under `<col>=<value>/` subdirs
        (enabling `read_where` pruning); `txn` records an application
        transaction id in the commit (see `append_once`).

        `cas_version` (ADVICE r6) makes the append a compare-and-swap on
        the table version: the commit is attempted at EXACTLY
        cas_version + 1 and `ConcurrentWriteError` raised if that version
        is already taken — i.e. someone else committed after the caller's
        read.  This is how a read-modify-write writer (the topK summary's
        generation chain) rejects a concurrent sibling instead of both
        publishing the same generation and double-counting on merge.
        """
        return self.commit_staged(
            self.stage_for_append(df, partition_by),
            max_retries=max_retries,
            partition_by=partition_by,
            txn=txn,
            cas_version=cas_version,
        )

    def stage_for_append(
        self, df: DataFrame, partition_by: str | None = None
    ) -> list[str]:
        """Phase 1 of a two-phase append: run the Spark write that stages
        `df`'s files into the table under unique, commit-less (hence
        reader-invisible) names, and return the staged file list for
        `commit_staged`.  Splitting the append lets a
        writer with TWO dependent publications (the drain writers' store
        + out commits, whose crash-window argument only constrains COMMIT
        order) run both staging Spark jobs concurrently and serialize
        only the cheap filesystem publishes.  Files staged but never
        committed are invisible forever and reclaimed by `vacuum()` —
        the same orphan class as a crash inside `append` itself."""
        os.makedirs(self.log_dir, exist_ok=True)
        return self._stage(df, partition_by)

    def discard_staged(self, staged: list[str]) -> None:
        """Best-effort immediate cleanup of files from `stage_for_append`
        that the caller decided not to commit (no commit references them,
        so removal is always safe; vacuum remains the crash backstop)."""
        for rel in staged:
            try:
                os.remove(os.path.join(self.path, rel))
            except OSError:
                pass

    def commit_staged(
        self,
        staged: list[str],
        max_retries: int = 50,
        partition_by: str | None = None,
        txn: str | None = None,
        cas_version: int | None = None,
    ) -> int:
        """Phase 2 of a two-phase append: publish a commit naming the
        files `stage_for_append` returned.  Pure filesystem work — no
        Spark job.  Identical publish/CAS semantics to `append` (which is
        now stage + this)."""
        moved = staged
        commit: dict = {"files": sorted(moved)}
        if partition_by:
            # recorded so optimize() can default to the table's layout
            # instead of relying on the caller remembering it
            commit["partition_by"] = partition_by
        if txn is not None:
            commit["txn"] = txn
        payload = json.dumps(commit).encode()
        if cas_version is not None:
            version = cas_version + 1
            commit_path = os.path.join(
                self.log_dir, f"{version:0{_VERSION_DIGITS}d}.json"
            )
            if self._publish(payload, commit_path):
                return version
            # Best-effort delete of the just-moved files (review r7): they
            # are known by name and referenced by NO commit, so removing
            # them reclaims disk immediately instead of leaving a full
            # block of orphaned parquet per rejected batch for vacuum()'s
            # grace window (a topK/reservoir stream losing repeated CAS
            # races would otherwise accumulate them).  Crash-between-
            # move-and-delete still leaves orphans — vacuum remains the
            # backstop for those.
            for rel in moved:
                try:
                    os.remove(os.path.join(self.path, rel))
                except OSError:
                    pass
            raise ConcurrentWriteError(
                f"{self.path}: version {version} already committed — "
                f"table advanced past the caller's read at {cas_version}"
            )
        version = self.version() + 1
        for _ in range(max_retries):
            commit_path = os.path.join(
                self.log_dir, f"{version:0{_VERSION_DIGITS}d}.json"
            )
            if self._publish(payload, commit_path):
                return version
            version += 1  # lost the race for this version number
        # data files remain unpublished (invisible to readers) on failure
        raise RuntimeError(f"could not commit after {max_retries} attempts")

    def append_once(
        self,
        df: DataFrame,
        txn: str,
        partition_by: str | None = None,
        cas_version: int | None = None,
    ) -> int | None:
        """Idempotent append: commit `df` tagged with application
        transaction id `txn`, unless a commit with that id already exists —
        then do nothing and return None.  This is what makes an
        at-least-once foreachBatch sink exactly-once: key the txn by the
        micro-batch id and a retried batch (crash between sinks, or a
        post-restart replay) re-runs as a no-op instead of appending
        duplicates.  Retries of one txn must be sequential (foreachBatch
        guarantees this); CONCURRENT writers with distinct txns remain safe
        through the normal OCC commit loop."""
        if self.txn_committed(txn):
            return None
        return self.append(
            df, partition_by=partition_by, txn=txn, cas_version=cas_version
        )

    def optimize(
        self,
        spark: SparkSession,
        target_files: int = 1,
        max_retries: int = 5,
        cluster_cols: list[str] | None = None,
        zorder_bits: int = 8,
        partition_by: str | None = None,
        keep_where: Column | None = None,
        transform=None,
    ) -> int:
        """Small-file compaction (VERDICT r4 #6): rewrite the current
        snapshot into `target_files` parquet files and publish them as ONE
        replace-commit, atomically.  A long-running streaming MV commits
        one small file per block per partition; at 100 TB the FILE COUNT,
        not the bytes, is what kills the downstream scan (driver-side
        listing + footer reads + one task per tiny file).  This is the
        OPTIMIZE step every log-based table format pairs with streaming
        ingest.

        Readers are never disturbed: the compacted files land under unique
        names first, then a commit whose `"replaces"` field marks it as a
        full snapshot replacement is published through the same OCC loop as
        append.  Concurrency: a replace must not swallow a concurrent
        append's rows, so it only publishes at exactly snapshot_version + 1;
        if a rival commit takes that version, the whole compaction restarts
        from the new snapshot (bounded retries).  Old data files stay on
        disk for pinned snapshot reads until `vacuum()` reclaims them.

        `cluster_cols` (VERDICT r5 #7) lays the compacted files out along
        the Morton key over those columns (`storage.zorder_cluster_key`):
        range-partitioned on the z-value so each file is a bounded
        hyper-rectangle in every cluster dimension — multi-dimensional
        stats pruning that survives the rewrite.

        For a table whose appends used `partition_by` (the
        `read_where`-pruned layout) the rewrite keeps the
        `<col>=<value>/` directory structure with one task per partition
        value (one file per value), so driver-side pruning survives
        compaction.  The column DEFAULTS to the layout the appends
        recorded (`partition_column()`), so a caller can no longer
        forget it and silently flatten the layout — which would make
        every later `read_where` prefix match nothing and return the
        empty frame, i.e. a dedup store would dedupe against nothing
        (code-review r6).  This is the maintenance pass a
        continuously-appending store needs: per-partition file count
        drops from O(commits) back to 1.  Returns the committed
        version."""
        from apache_kafka_clickhouse_demo_spark.sources.storage import (
            zorder_cluster_key,
        )

        if partition_by is None:
            partition_by = self.partition_column()

        for _ in range(max_retries):
            snapshot = self.version()
            if snapshot < 0:
                raise FileNotFoundError(f"nothing to optimize in {self.path}")
            df = self.read(spark, snapshot)
            if keep_where is not None:
                # retention rewrite (REPLACE WHERE): the compacted snapshot
                # keeps only matching rows — how a generational store folds
                # superseded generations away.  Applied inside the OCC loop,
                # so rows from a concurrent append that wins the race are
                # re-read and filtered on the retry like everything else.
                df = df.filter(keep_where)
            if transform is not None:
                # snapshot-to-snapshot rewrite hook (r12): the staged
                # snapshot becomes transform(read(snapshot)) — the ANN
                # recluster path founds a new centroid generation this
                # way.  Runs INSIDE the OCC loop, so a retry re-derives
                # the rewrite from the rival commit's snapshot; the
                # callable may run bounded driver actions (counts) but
                # must be a pure function of its input frame.
                df = transform(df)
            if partition_by:
                df = df.repartition(F.col(partition_by))
                if cluster_cols:
                    zc = "_zcluster"
                    df = (
                        df.withColumn(
                            zc, zorder_cluster_key(df, cluster_cols, bits=zorder_bits)
                        )
                        .sortWithinPartitions(partition_by, zc)
                        .drop(zc)
                    )
            elif cluster_cols:
                zc = "_zcluster"
                df = (
                    df.withColumn(
                        zc, zorder_cluster_key(df, cluster_cols, bits=zorder_bits)
                    )
                    .repartitionByRange(max(1, target_files), zc)
                    .sortWithinPartitions(zc)
                    .drop(zc)
                )
            else:
                df = df.coalesce(max(1, target_files))
            moved = self._stage(df, partition_by)
            replace: dict = {"files": sorted(moved), "replaces": snapshot}
            if partition_by:
                replace["partition_by"] = partition_by  # layout survives prune_log
            payload = json.dumps(replace).encode()
            commit_path = os.path.join(
                self.log_dir, f"{snapshot + 1:0{_VERSION_DIGITS}d}.json"
            )
            if self._publish(payload, commit_path):
                return snapshot + 1
            # lost the OCC race: a concurrent append advanced the table.
            # The staged files are unreferenced (vacuum reclaims them);
            # recompact from the new snapshot.
        raise RuntimeError(f"optimize lost the commit race {max_retries} times")

    def vacuum(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete crash debris no commit references: unreferenced data
        files (writers that crashed between the move and the commit, and
        pre-`optimize()` files no longer in the current snapshot),
        `.staging-*` scratch directories (writers killed mid-`df.write`,
        before their finally-block cleanup ran — ADVICE r3), and orphaned
        `.tmp-*` commit payloads in the log dir (writers killed inside
        `_publish` between write and link — ADVICE r4).  `grace_seconds`
        protects in-flight appends: anything younger than the grace window
        may belong to a writer that has not yet published its commit, so it
        is kept.  A staging directory's age is the NEWEST mtime anywhere
        under it (ADVICE r4: `df.write` creates files under
        `staging/_temporary/...` without touching the top-level dir's
        mtime, so a long write phase must not look idle).  Note vacuuming
        unreferenced pre-optimize files breaks pinned snapshot reads older
        than the optimize — the standard trade every log-based format makes.
        Returns the deleted file/directory names."""
        import time

        referenced = {os.path.relpath(f, self.path) for f in self.data_files()}
        now = time.time()
        deleted: list[str] = []
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if name.startswith(".staging-") and os.path.isdir(full):
                if now - _newest_mtime(full) >= grace_seconds:
                    shutil.rmtree(full, ignore_errors=True)
                    deleted.append(name)
                continue
            # partitioned layouts keep data files under `<col>=<value>/`
            # subdirs — walk those too so their debris is reclaimable
            candidates: list[str] = []
            if os.path.isdir(full) and "=" in name:
                for dirpath, _d, names in os.walk(full):
                    for n in names:
                        candidates.append(
                            os.path.relpath(os.path.join(dirpath, n), self.path)
                        )
            elif os.path.isfile(full):
                candidates.append(name)
            for rel in candidates:
                fpath = os.path.join(self.path, rel)
                if not rel.endswith(".parquet") or rel in referenced:
                    continue
                try:  # a rival vacuum may reclaim the entry concurrently
                    if now - os.path.getmtime(fpath) < grace_seconds:
                        continue
                    os.remove(fpath)
                except OSError:
                    continue
                deleted.append(rel)
        if os.path.isdir(self.log_dir):
            for name in os.listdir(self.log_dir):
                if not name.startswith(".tmp-"):
                    continue
                full = os.path.join(self.log_dir, name)
                if os.path.isfile(full) and now - os.path.getmtime(full) >= grace_seconds:
                    os.remove(full)
                    deleted.append(os.path.join(_LOG_DIR, name))
        return deleted

    # -- read path ----------------------------------------------------------

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files committed up to `version`
        (latest when None).  An empty table needs at least one commit to
        infer a schema from — callers create tables by appending.
        `basePath` keeps Hive-style partition columns visible when the
        table was written with `partition_by` (harmless for flat tables)."""
        files = self.data_files(version)
        if not files:
            raise FileNotFoundError(f"no committed data in {self.path}")
        return spark.read.option("basePath", self.path).parquet(*files)

    def read_where(
        self,
        spark: SparkSession,
        partition_col: str,
        values: Iterable,
        version: int | None = None,
    ) -> DataFrame:
        """Partition-pruned snapshot read: only the committed files under
        `<partition_col>=<value>/` for the given values.  The pruning is
        DRIVER-SIDE off the commit log's file list — no directory listing,
        no data touched outside the named partitions — so the scan cost is
        O(matching files) no matter how large the table has grown.  This is
        the read the streaming near-dup store does per block: values =
        the block's band-key shards, files read = colliding buckets only.

        Returns an empty frame (with the table's schema) when no committed
        file matches; raises FileNotFoundError only when the table has no
        commits at all (indistinguishable from a missing table).

        Values are matched against the directory names Spark actually
        writes: Hive path-escaping (`:` -> `%3A` etc.), lowercase
        booleans, `__HIVE_DEFAULT_PARTITION__` for NULL — a plain
        f-string would silently return the empty frame for any value
        Spark escapes, and a dedup-store caller would then dedupe
        against nothing (code-review r6)."""
        files = self.data_files(version)
        if not files:
            raise FileNotFoundError(f"no committed data in {self.path}")
        # match TABLE-RELATIVE paths: a table whose own root happens to
        # live under a directory named `<col>=<value>` must not match
        # every file (code-review r6)
        prefixes = tuple(
            f"{partition_col}={_partition_path_value(v)}{os.sep}" for v in values
        )
        picked = [
            f
            for f in files
            if os.path.relpath(f, self.path).startswith(prefixes)
        ]
        if not picked:
            # schema-only empty frame: ONE committed file suffices — a
            # reader over the whole list costs O(table) for nothing
            return (
                spark.read.option("basePath", self.path).parquet(files[0]).limit(0)
            )
        return spark.read.option("basePath", self.path).parquet(*picked)


#: Characters Hive/Spark escape in partition-directory names
#: (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName):
#: ASCII control chars plus this literal set.
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _partition_path_value(v) -> str:
    """Render a partition value exactly as Spark's writer names the
    directory: None -> __HIVE_DEFAULT_PARTITION__, booleans lowercase,
    everything else str() with Hive %XX escaping of special characters."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    if isinstance(v, bool):
        return "true" if v else "false"
    out = []
    for ch in str(v):
        if ch < " " or ch in _PATH_ESCAPE_CHARS:
            out.append(f"%{ord(ch):02X}")
        else:
            out.append(ch)
    return "".join(out)


def transactional_sink(table: TransactionalTable, exactly_once_id: str | None = None):
    """Pluggable MV destination (create_materialized_view(sink=...)): each
    insert block becomes one atomic commit, safe against ANY concurrent
    writer — this removes the parquet `_temporary/` caveat that forces
    backfill_cutover to sequence its backfill before the stream.

    Pass `exactly_once_id` (a stable per-writer name, e.g. the MV's
    checkpoint path) to upgrade delivery from at-least-once to
    EXACTLY-once: the sink then takes `(block, batch_id)` from the MV
    seam and commits via `append_once(txn=f"{id}:{batch_id}")`, so a
    replayed block no-ops.  The id scopes the ledger per writer —
    keying on the bare batch id would wrongly dedupe ACROSS two
    different MVs appending to one table (both streams count batches
    from 0)."""

    if exactly_once_id is None:

        def _sink(block: DataFrame) -> None:
            table.append(block)

        return _sink

    def _sink_once(block: DataFrame, batch_id: int) -> None:
        table.append_once(block, txn=f"{exactly_once_id}:{int(batch_id)}")

    return _sink_once
