"""Transactional append-only table — atomic commits over plain parquet.

Why this exists: plain parquet appends stage task files under a SHARED
`<table>/_temporary/` directory, so two concurrent writers (a streaming MV
block + a backfill `INSERT ... SELECT`) can delete each other's in-flight
files, and a directory rewrite has no atomic way to replace the files a
reader is listing.  Real clusters solve this with a transactional table
format (Delta/Iceberg); this module is the same commit protocol reduced to
its core, with no new dependencies:

    <table>/
      _txlog/
        00000000000.json     # commit 0: {"files": [...], "schema": {...}}
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
- Every commit records the schema of the columns in its files, as Delta's
  `metaData.schemaString` does, so a read is planned on the driver from
  the log alone: no footer is opened to infer a schema, and (with
  `session.get_spark`'s listing threshold) no Spark job lists the files
  the log already names.  See `TransactionalTable` for the schema policy.

Concurrency model: optimistic, append-only (the OCC loop every log-based
table format uses).  On a shared filesystem/object store with atomic
create-if-absent this protocol is correct for any number of concurrent
writers; at 100 TB scale the log stays tiny (one small JSON per commit)
and a read costs one log listing plus one small JSON per live commit,
independent of data size.  A long-running streaming MV commits once per
block, so the log does grow — `checkpoint()` collapses every commit up to
a version into one summary file (readers then skip the per-commit JSONs),
exactly Delta's log-checkpoint mechanism.

- **Partitioned layout** (`append(..., partition_by=...)`): data files land
  under Hive-style `<col>=<value>/` subdirectories, and `read_where()`
  reads ONLY the committed files whose partition value is in a given set —
  file pruning on the driver straight off the commit log.  This is what
  lets a streaming dedup block touch O(colliding buckets) of an
  ever-growing signature store instead of rescanning all of it.  Partition
  columns must not start with `_` or `.` (Spark readers skip such
  directories).
- **Idempotent commits** (`append_once(df, txn=...)`): each commit can
  carry an application transaction id; `append_once` no-ops when that id
  is already in the log.  foreachBatch sinks are at-least-once — keying
  the txn by `_batch_id` makes a retried micro-batch read-back identical
  instead of appending duplicates (the Delta `txn`/`idempotent writes`
  mechanism reduced to its core).  Assumes retries of one txn are
  sequential (Spark never runs the same micro-batch concurrently).
- **Replace commits** (`"replaces": v`): the commit's files are the whole
  snapshot, and it is published at exactly v + 1, so it can never
  swallow a concurrent append.  `optimize()` writes them to compact; a
  writer that keeps one current state (`append(..., replaces=v)`) writes
  one per block, and its commit carries the block's `txn` like any
  append.  Older versions stay readable (`read(version=v)`) until
  `prune_log`/`vacuum` reclaim them, so the log is the state's history.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from collections.abc import Iterable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader
from pyspark.sql.types import StructType

from apache_kafka_clickhouse_demo_spark.functions.literals import string_seq

_LOG_DIR = "_txlog"
_VERSION_DIGITS = 11
#: log listings one replay may take before giving up (see `_replay`)
_MAX_RELISTS = 8
#: version numbers an append tries before giving up under contention
_COMMIT_RETRIES = 50
#: snapshots `optimize` recompacts from after losing its commit race
_OPTIMIZE_RETRIES = 5
#: bits per dimension of `optimize(cluster_cols=...)`'s Morton key
_ZORDER_BITS = 8


class _Staged(list):
    """`stage_for_append`'s value: the staged table-relative file names,
    plus the StructType JSON of the columns in those files, which
    `commit_staged` records in the commit."""

    def __init__(self, files: Iterable[str], schema: dict):
        super().__init__(files)
        self.schema = schema


class _Snapshot(NamedTuple):
    """The log replayed up to a version (see `TransactionalTable._replay`)."""

    version: int  # newest version replayed, -1 when none
    files: list[str]  # table-relative data files
    schema: dict | None  # newest recorded StructType JSON
    partition_by: str | None
    txns: set[str]
    txn_watermarks: dict[str, int]


def _newest_mtime(root: str) -> float:
    """Newest mtime anywhere under `root` (the dir itself included): the
    liveness signal for staging trees whose writes happen in nested
    `_temporary/` dirs that never touch the top-level mtime.  A root that
    vanishes mid-check (its writer finished concurrently) reads as
    brand-new — the caller must then SKIP it, never abort (an unguarded
    getmtime would crash a concurrent vacuum)."""
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
    dying).  Best-effort: some filesystems refuse
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
    """Handle for an atomic-append parquet table rooted at `path`.

    **Schema policy: the newest recorded schema wins.**  Every append and
    `optimize()` commit records the schema of the columns in its files
    (the partition column left out: its type is inferred from the
    `<col>=<value>` paths, as Spark always does), and `checkpoint()`
    carries the newest one.  A read at a version uses the newest schema
    recorded at or below it.  So a commit whose files add a column makes
    older rows read that column as NULL, and a commit that changes a
    column's type makes any read over the older files fail at scan time —
    never silent NULLs.
    """

    def __init__(self, path: str):
        self.path = path.rstrip("/")
        self.log_dir = os.path.join(self.path, _LOG_DIR)

    # -- log helpers --------------------------------------------------------

    def _log_entries(self) -> tuple[int | None, list[tuple[int, str]]]:
        """(latest checkpoint version or None, [(version, commit path)...])."""
        if not os.path.isdir(self.log_dir):
            return None, []
        names = os.listdir(self.log_dir)
        ckpt_versions = sorted(
            int(n.split(".")[0]) for n in names if n.endswith(".checkpoint.json")
        )
        commits = sorted(
            (int(n.split(".")[0]), os.path.join(self.log_dir, n))
            for n in names
            if n.endswith(".json") and not n.endswith(".checkpoint.json")
        )
        return (ckpt_versions[-1] if ckpt_versions else None), commits

    def version(self) -> int:
        """Latest committed version, -1 for an empty/new table."""
        ckpt, commits = self._log_entries()
        latest = max([c for c, _ in commits], default=-1)
        return max(latest, ckpt if ckpt is not None else -1)

    def _replay(self, up_to_version: int | None = None) -> _Snapshot:
        """The log replayed up to `up_to_version` (newest when None): the
        newest checkpoint at or below it, then each live commit after it,
        each JSON opened once.  Commits at or below the checkpoint are not
        reopened — their files, txns (verbatim, or compacted to
        watermarks), schema and layout are in its summary — so this costs
        O(commits since checkpoint), not O(stream lifetime).

        A commit that vanishes between the listing and its open was folded
        into a newer checkpoint and pruned by another handle: the replay
        re-lists the log and starts over, so a committed table never reads
        as empty."""
        for _ in range(_MAX_RELISTS):
            ckpt, commits = self._log_entries()
            try:
                return self._replay_listing(ckpt, commits, up_to_version)
            except FileNotFoundError:
                continue
        raise RuntimeError(
            f"{self.path}: the log changed under {_MAX_RELISTS} replays in a row"
        )

    def _replay_listing(
        self, ckpt: int | None, commits: list[tuple[int, str]], up_to: int | None
    ) -> _Snapshot:
        version, files, schema, pcol = -1, [], None, None
        txns: set[str] = set()
        marks: dict[str, int] = {}
        if ckpt is not None and (up_to is None or ckpt <= up_to):
            with open(os.path.join(self.log_dir, self._ckpt_name(ckpt))) as fh:
                summary = json.load(fh)
            version, files = ckpt, list(summary["files"])
            schema, pcol = summary.get("schema"), summary.get("partition_by")
            txns.update(summary.get("txns", []))
            marks.update(summary.get("txn_watermarks", {}))
        for v, commit in commits:
            if v <= version or (up_to is not None and v > up_to):
                continue
            with open(commit) as fh:
                payload = json.load(fh)
            if payload.get("replaces") is not None:
                # optimize() commit: its files REPLACE everything before it
                files = list(payload["files"])
            else:
                files.extend(payload["files"])
            version = v
            schema = payload.get("schema", schema)
            pcol = payload.get("partition_by") or pcol
            if payload.get("txn") is not None:
                txns.add(payload["txn"])
        return _Snapshot(version, files, schema, pcol, txns, marks)

    def data_files(self, up_to_version: int | None = None) -> list[str]:
        return [os.path.join(self.path, f) for f in self._replay(up_to_version).files]

    def commit_files(self, version: int) -> list[str] | None:
        """TABLE-RELATIVE file names of exactly one commit, or None when
        that commit's JSON is gone (folded into a checkpoint + pruned).
        Bounded driver work: one small JSON read — lets a writer that just
        committed partitioned data recover WHICH partition dirs it touched
        without running a Spark job over the data (streaming/stateful.py
        derives a block's band shards this way)."""
        try:
            with open(self._commit_path(version)) as fh:
                return list(json.load(fh)["files"])
        except (FileNotFoundError, KeyError):
            return None

    def committed_txns(self) -> set[str]:
        """The EXPLICITLY recorded txn ids (commit `txn` fields plus a
        checkpoint's verbatim `txns` list).  Watermark-compacted ids (see
        `checkpoint(compact_txn_watermarks=True)`) are not enumerated here
        — membership for those goes through `txn_committed`, which
        `append_once` uses."""
        return self._replay().txns

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
        snap = self._replay()
        if txn in snap.txns:
            return True
        writer, sep, num = txn.rpartition(":")
        return (
            bool(sep) and num.isdigit() and snap.txn_watermarks.get(writer, -1) >= int(num)
        )

    @staticmethod
    def _ckpt_name(version: int) -> str:
        return f"{version:0{_VERSION_DIGITS}d}.checkpoint.json"

    def _publish(self, payload: bytes, dest_path: str) -> bool:
        """Atomically publish `payload` at `dest_path`: write a
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
        O(stream lifetime).  ONLY sound when each
        writer's batch numbers are monotonic with sequential retries
        (foreachBatch's contract: a watermark claims every batch at or
        below it committed); leave it off for arbitrary txn id schemes.
        The table's newest schema and its partition layout
        (`append(partition_by=...)`) are carried into the summary either
        way, so reads keep their schema and `optimize()` can default to
        the layout once the folded commits are pruned."""
        snap = self._replay()
        if snap.version < 0:
            raise FileNotFoundError(f"nothing to checkpoint in {self.path}")
        txns, marks = snap.txns, snap.txn_watermarks
        if compact_txn_watermarks:
            keep: set[str] = set()
            for t in txns:
                writer, sep, num = t.rpartition(":")
                if sep and num.isdigit():
                    marks[writer] = max(marks.get(writer, -1), int(num))
                else:
                    keep.add(t)
            txns = keep
        summary: dict = {"files": sorted(snap.files), "txns": sorted(txns)}
        if marks:
            summary["txn_watermarks"] = marks
        if snap.schema is not None:
            summary["schema"] = snap.schema
        if snap.partition_by:
            summary["partition_by"] = snap.partition_by
        payload = json.dumps(summary).encode()
        ckpt_path = os.path.join(self.log_dir, self._ckpt_name(snap.version))
        # lost the race -> an identical checkpoint already exists: fine
        self._publish(payload, ckpt_path)
        return snap.version

    def partition_column(self) -> str | None:
        """The partition column this table's appends declared, read from
        the newest commit that recorded one (or the newest checkpoint's
        summary).  None for an unpartitioned table."""
        return self._replay().partition_by

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

    def _stage(self, df: DataFrame, partition_by: str | None) -> _Staged:
        """Write `df` to a private staging dir, move its parquet files into
        the table under unique names (preserving `<col>=<value>/` partition
        subdirectories when `partition_by` is given), and return the moved
        files' table-relative paths with the schema of their columns.  The
        files are invisible to readers until a commit names them."""
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
                    # vacuum could delete them before the commit publishes.
                    # Stamp move time so age is measured from here.
                    try:
                        os.utime(dest)
                    except OSError:
                        pass
                    moved.append(unique)
            for d in {os.path.dirname(os.path.join(self.path, u)) or self.path for u in moved}:
                _fsync_dir(d)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        schema = StructType([f for f in df.schema.fields if f.name != partition_by])
        return _Staged(moved, schema.jsonValue())

    def append(
        self,
        df: DataFrame,
        partition_by: str | None = None,
        txn: str | None = None,
        cas_version: int | None = None,
        replaces: int | None = None,
    ) -> int:
        """Atomically append `df`; returns the committed version.

        Stage (private dir) -> move files in under unique names -> publish
        via O_EXCL commit-file create, retrying the version number under
        contention.  Readers never see the data until the commit lands.
        `partition_by` lays the files out under `<col>=<value>/` subdirs
        (enabling `read_where` pruning); `txn` records an application
        transaction id in the commit (see `append_once`).

        `cas_version` makes the append a compare-and-swap on
        the table version: the commit is attempted at EXACTLY
        cas_version + 1 and `ConcurrentWriteError` raised if that version
        is already taken — i.e. someone else committed after the caller's
        read.  This is how a read-modify-write writer (a count-min
        block's increments) rejects a concurrent sibling instead of both
        publishing against the same snapshot and double-counting.
        `replaces=v` makes the commit a replace of snapshot v, with the
        same CAS (see `commit_staged`).
        """
        return self.commit_staged(
            self.stage_for_append(df, partition_by),
            partition_by=partition_by,
            txn=txn,
            cas_version=cas_version,
            replaces=replaces,
        )

    def stage_for_append(
        self, df: DataFrame, partition_by: str | None = None
    ) -> list[str]:
        """Phase 1 of a two-phase append: run the Spark write that stages
        `df`'s files into the table under unique, commit-less (hence
        reader-invisible) names, and return the staged file list for
        `commit_staged` (a list that also carries the files' schema).  Splitting the append lets a
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
        partition_by: str | None = None,
        txn: str | None = None,
        cas_version: int | None = None,
        replaces: int | None = None,
    ) -> int:
        """Phase 2 of a two-phase append: publish a commit naming the
        files `stage_for_append` returned, and their schema.  Pure
        filesystem work — no Spark job.  Identical publish/CAS semantics
        to `append` (which is stage + this).

        `replaces=v` publishes a REPLACE commit instead: the staged files
        become the whole snapshot (the commit `optimize` writes), at
        exactly v + 1 — the CAS of `cas_version=v`.  This is how a
        one-state writer (top-k, reservoir, pack-bins) publishes the
        current state it derived from snapshot v.  A rejected commit
        (either form) removes the staged files before it raises: they are
        known by name and referenced by no commit, so a writer losing
        repeated races does not leave a block of orphans per attempt for
        `vacuum()`'s grace window (a crash between the move and this
        cleanup still does — vacuum remains the backstop)."""
        try:
            return self._commit(
                staged, staged.schema, partition_by, txn, replaces, cas_version
            )
        except ConcurrentWriteError:
            self.discard_staged(staged)
            raise

    def _commit(
        self,
        files: list[str],
        schema: dict,
        partition_by: str | None,
        txn: str | None = None,
        replaces: int | None = None,
        cas_version: int | None = None,
    ) -> int:
        """Build and publish a commit (appends and replaces alike)
        naming the table-relative `files` and their `schema`; returns its
        version.  The partition column is recorded
        so `optimize()` keeps the layout once older commits are pruned.
        A replace (`replaces=v`, the files are the whole snapshot) or a
        `cas_version=v` commit goes at exactly v + 1 and raises
        `ConcurrentWriteError` when that version is taken — a replace at
        any other version would swallow the commits after v.  Otherwise
        the commit goes at the next free version."""
        commit: dict = {"files": sorted(files), "schema": schema}
        if partition_by:
            commit["partition_by"] = partition_by
        if txn is not None:
            commit["txn"] = txn
        if replaces is not None:
            commit["replaces"] = replaces
        payload = json.dumps(commit).encode()
        at = cas_version if replaces is None else replaces
        if at is not None:
            if self._publish(payload, self._commit_path(at + 1)):
                return at + 1
            raise ConcurrentWriteError(
                f"{self.path}: version {at + 1} already committed — "
                f"table advanced past the caller's read at {at}"
            )
        version = self.version() + 1
        for _ in range(_COMMIT_RETRIES):
            if self._publish(payload, self._commit_path(version)):
                return version
            version += 1  # lost the race for this version number
        # data files remain unpublished (invisible to readers) on failure
        raise RuntimeError(f"could not commit after {_COMMIT_RETRIES} attempts")

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:0{_VERSION_DIGITS}d}.json")

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
        cluster_cols: list[str] | None = None,
        keep_where: Column | None = None,
        transform=None,
        partitions: list | None = None,
    ) -> int:
        """Small-file compaction: rewrite the current
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

        `cluster_cols` lays the compacted files out along
        the Morton key over those columns (`storage.zorder_cluster_key`):
        range-partitioned on the z-value so each file is a bounded
        hyper-rectangle in every cluster dimension — multi-dimensional
        stats pruning that survives the rewrite.

        For a table whose appends used `partition_by` (the
        `read_where`-pruned layout) the rewrite keeps the
        `<col>=<value>/` directory structure with one task per partition
        value (one file per value), so driver-side pruning survives
        compaction.  The column is always the layout the appends
        recorded (`partition_column()`): a rewrite that flattened it
        would make every later `read_where` prefix match nothing and
        return the empty frame, i.e. a dedup store would dedupe against
        nothing.  This is the maintenance pass a
        continuously-appending store needs: per-partition file count
        drops from O(commits) back to 1.

        `partitions` (values of the table's partition column) narrows the
        rewrite to the committed files under those values; every other
        file is carried into the same replace commit under its existing
        name.  A `keep_where` that bounds the partition column lets Spark
        prune whole partitions at planning, so they leave the snapshot
        without a byte of theirs being read (the TTL partition drop).
        Raises ValueError on an unpartitioned table.  Returns the
        committed version."""
        from apache_kafka_clickhouse_demo_spark.sources.storage import (
            zorder_cluster_key,
        )

        partition_by = self.partition_column()
        if partitions is not None and partition_by is None:
            raise ValueError(f"partitions= needs the partition column of {self.path}")

        for _ in range(_OPTIMIZE_RETRIES):
            snapshot = self.version()
            if snapshot < 0:
                raise FileNotFoundError(f"nothing to optimize in {self.path}")
            carried: list[str] = []
            if partitions is None:
                df = self.read(spark, snapshot)
            else:
                prefixes = _partition_prefixes(partition_by, partitions)
                files = self._replay(snapshot).files
                carried = [f for f in files if not f.startswith(prefixes)]
                df = self.read_where(spark, partition_by, partitions, snapshot)
            if keep_where is not None:
                # retention rewrite (REPLACE WHERE): the compacted snapshot
                # keeps only matching rows — how TTL drops expired rows.
                # Applied inside the OCC loop, so rows from a concurrent
                # append that wins the race are re-read and filtered on
                # the retry like everything else.
                df = df.filter(keep_where)
            if transform is not None:
                # snapshot-to-snapshot rewrite hook: the staged
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
                            zc, zorder_cluster_key(df, cluster_cols, bits=_ZORDER_BITS)
                        )
                        .sortWithinPartitions(partition_by, zc)
                        .drop(zc)
                    )
            elif cluster_cols:
                zc = "_zcluster"
                df = (
                    df.withColumn(
                        zc, zorder_cluster_key(df, cluster_cols, bits=_ZORDER_BITS)
                    )
                    .repartitionByRange(max(1, target_files), zc)
                    .sortWithinPartitions(zc)
                    .drop(zc)
                )
            else:
                df = df.coalesce(max(1, target_files))
            moved = self._stage(df, partition_by)
            try:
                return self._commit(
                    carried + moved, moved.schema, partition_by, replaces=snapshot
                )
            except ConcurrentWriteError:
                # lost the OCC race: a concurrent append advanced the
                # table.  Reclaim the staged files (never the carried
                # ones) and recompact from the new snapshot.
                self.discard_staged(moved)
        raise RuntimeError(f"optimize lost the commit race {_OPTIMIZE_RETRIES} times")

    def vacuum(self, grace_seconds: float = 3600.0) -> list[str]:
        """Delete crash debris no commit references: unreferenced data
        files (writers that crashed between the move and the commit, and
        pre-`optimize()` files no longer in the current snapshot),
        `.staging-*` scratch directories (writers killed mid-`df.write`,
        before their finally-block cleanup ran), and orphaned
        `.tmp-*` commit payloads in the log dir (writers killed inside
        `_publish` between write and link).  `grace_seconds`
        protects in-flight appends: anything younger than the grace window
        may belong to a writer that has not yet published its commit, so it
        is kept.  A staging directory's age is the NEWEST mtime anywhere
        under it (`df.write` creates files under
        `staging/_temporary/...` without touching the top-level dir's
        mtime, so a long write phase must not look idle).  Note vacuuming
        unreferenced pre-optimize files breaks pinned snapshot reads older
        than the optimize — the standard trade every log-based format makes.
        Returns the deleted file/directory names (none for a table that
        was never created)."""
        import time

        if not os.path.isdir(self.path):
            return []
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

    def _reader(
        self, spark: SparkSession, version: int | None
    ) -> tuple[list[str], DataFrameReader]:
        """(the table-relative files committed up to `version`, a reader
        with the schema recorded at or below it).  The reader infers
        nothing: the data columns come from the log and the partition
        column from the paths, so planning a read opens no footer.
        `basePath` keeps Hive-style partition columns visible (harmless
        for flat tables)."""
        snap = self._replay(version)
        if not snap.files:
            raise FileNotFoundError(f"no committed data in {self.path}")
        schema = StructType.fromJson(snap.schema)
        return snap.files, spark.read.schema(schema).option("basePath", self.path)

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Snapshot read: exactly the files committed up to `version`
        (latest when None), planned with zero Spark jobs.  Raises
        FileNotFoundError when nothing is committed — callers create
        tables by appending."""
        files, reader = self._reader(spark, version)
        return self._scan(reader, files)

    def read_where(
        self,
        spark: SparkSession,
        partition_col: str,
        values: Iterable,
        version: int | None = None,
    ) -> DataFrame:
        """Partition-pruned snapshot read: only the committed files under
        `<partition_col>=<value>/` for the given values.  The pruning is
        done on the driver off the commit log's file list, so no data
        outside the named partitions is touched and the scan cost is
        O(matching files) no matter how large the table has grown.  Like
        `read`, it plans with zero Spark jobs.  This is the read the
        streaming near-dup store does per block: values = the block's
        band-key shards, files read = colliding buckets only.

        Returns an empty frame (with the table's schema) when no committed
        file matches; raises FileNotFoundError only when the table has no
        commits at all (indistinguishable from a missing table).

        Values are matched against the directory names Spark actually
        writes: Hive path-escaping (`:` -> `%3A` etc.), lowercase
        booleans, `__HIVE_DEFAULT_PARTITION__` for NULL — a plain
        f-string would silently return the empty frame for any value
        Spark escapes, and a dedup-store caller would then dedupe
        against nothing.  Matching is on TABLE-RELATIVE paths, so a table
        whose own root lives under a directory named `<col>=<value>` does
        not match every file."""
        files, reader = self._reader(spark, version)
        prefixes = _partition_prefixes(partition_col, values)
        picked = [f for f in files if f.startswith(prefixes)]
        if not picked:
            # schema-only empty frame: ONE committed file gives the
            # partition column's type — a reader over the whole list costs
            # O(table) for nothing
            return self._scan(reader, files[:1]).limit(0)
        return self._scan(reader, picked)

    def _scan(self, reader: DataFrameReader, files: list[str]) -> DataFrame:
        """`reader.parquet` over table-relative `files`, with the path
        list passed to the JVM in a constant number of py4j calls
        (`parquet(*paths)` makes one per path)."""
        paths = [os.path.join(self.path, f) for f in files]
        return reader._df(reader._jreader.parquet(string_seq(reader._spark._sc, paths)))


#: Characters Hive/Spark escape in partition-directory names
#: (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName):
#: ASCII control chars plus this literal set.
_PATH_ESCAPE_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _partition_prefixes(col: str, values: Iterable) -> tuple[str, ...]:
    """The table-relative directory prefixes of `col`'s given values."""
    return tuple(f"{col}={_partition_path_value(v)}{os.sep}" for v in values)


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
    writer, with none of plain parquet's shared `_temporary/` staging.

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
