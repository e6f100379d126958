"""The three workloads.  Each one is a closed loop driven by a single
client: the next op starts only after the previous one completed.

- `cascade_ingest` lands hour-aligned NDJSON blocks of `events` and waits
  until the typed -> granular -> daily MV cascade has carried each block
  into the merge-on-read answer.
- `curation_drain` lands id-ordered blocks and drains each through the
  two exactly-once writer protocols (two-table domain cap, single-commit
  count-min sketch).
- `query_mix` runs read queries from the registries, plus a transactional
  table read, in seeded random order.

Workloads call only the package's public functions; per-layer numbers
come from spans around those calls and from Spark's own progress and
status surfaces."""

from __future__ import annotations

import datetime as dt
import os
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import fixtures as FX
from perfbench.trace import Tracer

DAY_MS = 24 * FX.HOUR_MS
EVENT_JSON = "event_id long, ts long, user_id long, event_type string, value double, props string"
TYPED_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double, k long"
GRANULAR_SCHEMA = "ts_hour timestamp, event_type string, student_count long"
HOPS = ("typed", "granular", "daily")
WRITERS = ("domain_cap", "cms")
DOMAIN_CAP = 5
CMS_WIDTH, CMS_DEPTH = 256, 4
QUERY_KINDS = (
    "attendance_daily_merged", "type_user_stats", "latest_event",
    "entry_house_points", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q6_forecast_revenue", "dedup_minhash_lsh",
    "txlog_read",
)


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    size: FX.Size
    tracer: Tracer


class JobCounter:
    """New Spark jobs and completed tasks per job group, via the public
    status tracker.  The listener bus is drained first so jobs that just
    ended are visible."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.st = self.sc.statusTracker()
        self.seen: set[int] = set()

    def take(self, *groups: str | None) -> tuple[int, int]:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:  # noqa: BLE001 — counts may lag by one op then
            pass
        new: set[int] = set()
        for g in groups:
            new |= set(self.st.getJobIdsForGroup(g)) - self.seen
        self.seen |= new
        tasks = 0
        for j in new:
            info = self.st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = self.st.getStageInfo(sid)
                tasks += si.numCompletedTasks if si else 0
        return len(new), tasks


def _progress_since(query, after: int) -> list:
    return [p for p in query.recentProgress if p.batchId > after]


def _dur(progress: list, key: str) -> float:
    return float(sum(p.durationMs.get(key, 0) for p in progress))


def _parquet_rows(paths) -> int:
    return sum(pq.read_metadata(p).num_rows for p in paths)


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, dirs, names in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(dirpath, n) for n in names if n.endswith(".parquet")]
    return out


def _bytes(files) -> int:
    return sum(os.path.getsize(f) for f in files)


def _land(path: str, write) -> None:
    """Write a block under a hidden name, then rename it into the watched
    directory, so a file source never lists a half-written block."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    write(tmp)
    os.rename(tmp, path)


class Workload:
    name = ""
    root_span = ""
    #: ops run before measuring; the first `cold_ops` of them are the cold
    #: ops (first of each kind), reported as `cold_metric`
    warm_up_ops = 1
    cold_ops = 1
    cold_metric = ""
    #: Spark task threads; None is one per vCPU
    spark_threads: int | None = None

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.jobs = JobCounter(ctx.spark) if ctx.tracer.enabled else None
        #: per-layer samples: op id -> {metric: value}
        self.samples: dict[int, dict[str, float]] = defaultdict(dict)

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.ctx.work, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def layer_metrics(self, steady: set[int]) -> dict[str, float]:
        """Per metric, the mean over the steady ops that sampled it."""
        per: dict[str, list[float]] = defaultdict(list)
        for op in steady:
            for k, v in self.samples.get(op, {}).items():
                per[k].append(v)
        return {k: float(np.mean(v)) for k, v in per.items()}

    def kind(self, op_id: int) -> str:
        return self.name

    def at_boundary(self) -> bool:
        """True where the measured loop may stop."""
        return True

    def close(self) -> None:
        pass


class CascadeIngest(Workload):
    name = "cascade_ingest"
    root_span = "cascade.block"
    item = "events"
    #: measured: block latency keeps falling (JIT) until about the fifth
    #: block; the first is the cold op, all five count as set-up
    warm_up_ops = 5
    cold_metric = "cascade.cold_ms"
    #: one task thread.  The three live MVs' trigger loops poll their
    #: sources between blocks, so even at local[1] a run keeps about 1.7
    #: vCPUs busy.  At local[nproc] it ran more threads than the machine
    #: has vCPUs, and then the guest scheduler and the host's CPU steal set
    #: block latency more than the program did.  Each block is a few
    #: hundred rows per hop: the fixed cost per micro-batch dominates, not
    #: task parallelism.
    spark_threads = 1

    def prepare(self) -> None:
        s = self.ctx.size
        self.ev = FX.gen_events(self.ctx.seed, s.events, s.days, s.users)
        self.blocks = FX.hour_blocks(self.ctx.seed, self.ev["ts_ms"], s.block_hours)
        # oracle: complete per-(hour, type) counts of each block — hour
        # alignment makes every block's counts final
        hour = self.ev["ts_ms"] // FX.HOUR_MS
        self.block_counts = []
        for lo, hi in self.blocks:
            keys, n = np.unique(
                np.stack([hour[lo:hi], np.searchsorted(FX.EVENT_TYPES, self.ev["event_type"][lo:hi].astype(str))]),
                axis=1, return_counts=True,
            )
            self.block_counts.append(list(zip(keys[0].tolist(), keys[1].tolist(), n.tolist())))
        self.state: dict[tuple, list] = {}
        self.next_block = 0

    def start(self) -> None:
        from pyspark.sql import functions as F

        from apache_kafka_clickhouse_demo_spark.operators import attendance
        from apache_kafka_clickhouse_demo_spark.sources.storage import insert_into
        from apache_kafka_clickhouse_demo_spark.streaming import create_materialized_view

        sp = self.spark
        self.raw = self.dir("raw")
        self.dest = {h: self.dir(h) for h in HOPS}
        self.hop_span: dict[str, dict] = {}

        def typed(block):
            e = block.select(F.from_json("message", EVENT_JSON).alias("e")).select("e.*")
            return attendance.typed_events(e.withColumn("ts", F.timestamp_millis("ts")))

        sources = {
            "typed": sp.readStream.format("text").load(self.raw).withColumnRenamed("value", "message"),
            "granular": sp.readStream.schema(TYPED_SCHEMA).parquet(self.dest["typed"]),
            "daily": sp.readStream.schema(GRANULAR_SCHEMA).parquet(self.dest["granular"]),
        }
        transforms = {
            "typed": typed,
            "granular": attendance.attendance_granular,
            "daily": attendance.attendance_daily_states,
        }

        def timed_sink(hop):
            def sink(df):
                with self.tracer.span(f"storage.{hop}.insert_into", parent=self.hop_span.get(hop)):
                    insert_into(df, self.dest[hop])
            return sink

        self.mvs = {
            h: create_materialized_view(
                sources[h], transforms[h], self.dest[h], self.dir("ck", h),
                sink=timed_sink(h) if self.tracer.enabled else None,
            )
            for h in HOPS
        }
        self.last_batch = {h: -1 for h in HOPS}
        self.typed_fn = typed
        self.state_files: set[str] = set()
        self.state_rows = 0

    def has_next(self) -> bool:
        return self.next_block < len(self.blocks)

    def _expected(self) -> list[tuple]:
        out = []
        for (day, t), (mx, mn, sm, n) in sorted(self.state.items()):
            out.append((dt.datetime.utcfromtimestamp(day * 86_400), FX.EVENT_TYPES[t], mx, mn, sm / n))
        return out

    @staticmethod
    def _same(got, want) -> bool:
        if len(got) != len(want):
            return False
        for g, w in zip(got, want):
            if tuple(g[:4]) != w[:4] or abs(g[4] - w[4]) > 1e-4:
                return False
        return True

    def op(self, op_id: int) -> tuple[bool, int]:
        from apache_kafka_clickhouse_demo_spark.operators.attendance import attendance_daily_merged

        i = self.next_block
        self.next_block += 1
        lo, hi = self.blocks[i]
        for hour, t, n in self.block_counts[i]:
            st = self.state.setdefault((hour * FX.HOUR_MS // DAY_MS, t), [n, n, 0, 0])
            st[0], st[1] = max(st[0], n), min(st[1], n)
            st[2] += n
            st[3] += 1
        want = self._expected()
        tr = self.tracer
        with tr.span(self.root_span):
            with tr.span("bench.land"):
                lines = FX.ndjson_lines(self.ev, lo, hi)
                _land(os.path.join(self.raw, f"block-{i:05d}.ndjson"),
                      lambda p: Path(p).write_text(lines))
            for h in HOPS:
                with tr.span(f"pipeline.{h}") as s:
                    self.hop_span[h] = s
                    self.mvs[h].process_available()
                    self.hop_span.pop(h)
            with tr.span("attendance.merge_on_read"):
                got = attendance_daily_merged(self.spark.read.parquet(self.dest["daily"])).collect()
            with tr.span("bench.check"):
                ok = self._same(got, want)
        if tr.enabled:
            self._sample(op_id)
        return ok, hi - lo

    def _sample(self, op_id: int) -> None:
        smp = self.samples[op_id]
        spans = [s for s in self.tracer.spans if s["op"] == op_id]
        for h in HOPS:
            q = self.mvs[h].query
            prog = _progress_since(q, self.last_batch[h])
            if prog:
                self.last_batch[h] = max(p.batchId for p in prog)
            wall = sum(s["end"] - s["start"] for s in spans if s["name"] == f"pipeline.{h}") * 1000
            add, trig = _dur(prog, "addBatch"), _dur(prog, "triggerExecution")
            jobs, tasks = self.jobs.take(str(q.runId))
            smp.update({
                f"pipeline.{h}.add_batch_ms": add,
                f"pipeline.{h}.machinery_ms": trig - add,
                f"pipeline.{h}.drain_wait_ms": wall - trig,
                f"pipeline.{h}.jobs": jobs,
                f"pipeline.{h}.tasks": tasks,
                f"pipeline.{h}.rows_in": float(sum(p.numInputRows for p in prog)),
                f"storage.{h}.insert_into_ms": 1000 * sum(
                    s["end"] - s["start"] for s in spans if s["name"] == f"storage.{h}.insert_into"
                ),
            })
        fresh = set(_parquet_files(self.dest["daily"])) - self.state_files
        self.state_files |= fresh
        self.state_rows += _parquet_rows(fresh)
        smp["attendance.state_rows_read"] = self.state_rows
        smp["attendance.merge_on_read_ms"] = 1000 * sum(
            s["end"] - s["start"] for s in spans if s["name"] == "attendance.merge_on_read"
        )

    def finish(self) -> list[tuple[str, bool]]:
        """End of pass: the final merge-on-read must equal the batch
        `attendance_rollup` over every landed event."""
        from pyspark.sql import functions as F

        from apache_kafka_clickhouse_demo_spark.operators import attendance

        landed = self.typed_fn(self.spark.read.text(self.raw).withColumnRenamed("value", "message"))
        rollup = attendance.attendance_rollup(landed).collect()
        final = attendance.attendance_daily_merged(self.spark.read.parquet(self.dest["daily"])).collect()
        n = self.spark.read.text(self.raw).agg(F.count(F.lit(1))).first()[0]
        landed_n = self.blocks[self.next_block - 1][1]
        return [
            ("rollup == merge-on-read", [tuple(r) for r in rollup] == [tuple(r) for r in final]),
            ("rollup == python oracle", self._same(rollup, self._expected())),
            ("landed rows", n == landed_n),
        ]

    def end_metrics(self) -> dict[str, float]:
        tables = [_parquet_files(self.dest[h]) for h in HOPS]
        raw = [os.path.join(self.raw, n) for n in os.listdir(self.raw) if n.endswith(".ndjson")]
        return {
            "storage.files_per_table": float(np.mean([len(t) for t in tables])),
            "storage.bytes_per_input_byte": sum(_bytes(t) for t in tables) / _bytes(raw),
        }

    def close(self) -> None:
        for mv in getattr(self, "mvs", {}).values():
            mv.stop()


class CurationDrain(Workload):
    name = "curation_drain"
    root_span = "curation.block"
    item = "rows"
    #: the first block is the cold op.  Blocks keep getting slower until
    #: about the fifth: from then on a writer's store read lists more than
    #: 32 files, which Spark lists with a job of its own
    #: (spark.sql.sources.parallelPartitionDiscovery.threshold).  Measuring
    #: across that step made the median depend on how many blocks fit.
    warm_up_ops = 5
    cold_metric = "drain.cold_ms"

    def prepare(self) -> None:
        s = self.ctx.size
        self.crawl = FX.gen_crawl(self.ctx.seed, s.docs, s.domains)
        ev = FX.gen_events(self.ctx.seed, s.uid_block * s.drain_blocks, s.days, s.users)
        self.uids = ev["user_id"]
        r = FX.rng_for(self.ctx.seed, "drain-blocks")

        def cuts(n_rows: int, mean: int) -> list[tuple[int, int]]:
            sizes = r.integers(int(mean * 0.95), int(mean * 1.05) + 1, s.drain_blocks)
            b = np.minimum(np.cumsum(sizes), n_rows)
            return list(zip([0, *b[:-1].tolist()], b.tolist()))

        self.doc_blocks = cuts(s.docs, s.doc_block)
        self.uid_blocks = cuts(len(self.uids), s.uid_block)
        # python mirror of the batch domain cap over the landed prefix
        self.kept_per_block = []
        seen: dict[str, int] = defaultdict(int)
        for lo, hi in self.doc_blocks:
            kept = 0
            for d in self.crawl["domain"][lo:hi]:
                seen[d] += 1
                kept += seen[d] <= DOMAIN_CAP
            self.kept_per_block.append(kept)
        self.next_block = 0

    def start(self) -> None:
        sp = self.spark
        self.feed = {"domain_cap": self.dir("feed_docs"), "cms": self.dir("feed_uids")}
        self.src = {
            "domain_cap": sp.readStream.schema("doc_id long, url string").parquet(self.feed["domain_cap"]),
            "cms": sp.readStream.schema("user_id long").parquet(self.feed["cms"]),
        }
        self.out_dir = self.dir("dc_out")
        self.store = {"domain_cap": self.dir("dc_store"), "cms": self.dir("cms_store")}
        self.ck = {w: os.path.join(self.ctx.work, f"{w}_ck") for w in WRITERS}
        self.input_bytes = 0

    def has_next(self) -> bool:
        return self.next_block < len(self.doc_blocks)

    def _drain(self, w: str):
        from apache_kafka_clickhouse_demo_spark.streaming.stateful import (
            count_min_stream,
            domain_cap_stream,
        )

        if w == "domain_cap":
            q = domain_cap_stream(
                self.spark, self.src[w], out_dir=self.out_dir, store_dir=self.store[w],
                checkpoint=self.ck[w], cap=DOMAIN_CAP,
            )
        else:
            q = count_min_stream(
                self.spark, self.src[w], store_dir=self.store[w], checkpoint=self.ck[w],
                key_col="user_id", width=CMS_WIDTH, depth=CMS_DEPTH,
            )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def op(self, op_id: int) -> tuple[bool, int]:
        from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

        i = self.next_block
        self.next_block += 1
        (dlo, dhi), (ulo, uhi) = self.doc_blocks[i], self.uid_blocks[i]
        tables = {
            "domain_cap": pa.table({"doc_id": self.crawl["doc_id"][dlo:dhi],
                                    "url": pa.array(self.crawl["url"][dlo:dhi], pa.string())}),
            "cms": pa.table({"user_id": self.uids[ulo:uhi]}),
        }
        out = TransactionalTable(self.out_dir)
        committed = {  # (table, txn): every writer table commits each block once
            (t, f"{self.ck[w]}:{i}"): t.version()
            for w, t in (("domain_cap", out),
                         ("domain_cap", TransactionalTable(os.path.join(self.store["domain_cap"], "store"))),
                         ("cms", TransactionalTable(os.path.join(self.store["cms"], "store"))))
        }
        tr = self.tracer
        ok, queries = True, {}
        with tr.span(self.root_span):
            for w in WRITERS:
                with tr.span(f"stateful.{w}"):
                    path = os.path.join(self.feed[w], f"block-{i:05d}.parquet")
                    with tr.span("bench.land"):
                        _land(path, lambda p, t=tables[w]: pq.write_table(t, p))
                    queries[w] = self._drain(w)
            with tr.span("bench.check"):
                for (t, txn), v0 in committed.items():
                    ok &= t.version() == v0 + 1 and txn in t.committed_txns()
        self.input_bytes += sum(
            os.path.getsize(os.path.join(self.feed[w], f"block-{i:05d}.parquet")) for w in WRITERS
        )
        if tr.enabled:
            self._sample(op_id, queries, out)
        return ok, tables["domain_cap"].num_rows + tables["cms"].num_rows

    def _sample(self, op_id, queries, out) -> None:
        from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

        smp = self.samples[op_id]
        spans = [s for s in self.tracer.spans if s["op"] == op_id]
        cms = TransactionalTable(os.path.join(self.store["cms"], "store"))
        rows_out = {
            "domain_cap": _parquet_rows(
                os.path.join(out.path, f) for f in out.commit_files(out.version()) or []
            ),
            "cms": _parquet_rows(
                os.path.join(cms.path, f) for f in cms.commit_files(cms.version()) or [] if f.startswith("shard=o/")
            ),
        }
        for w in WRITERS:
            prog = queries[w].recentProgress
            add, trig = _dur(prog, "addBatch"), _dur(prog, "triggerExecution")
            wall = 1000 * sum(s["end"] - s["start"] for s in spans if s["name"] == f"stateful.{w}")
            jobs, tasks = self.jobs.take(str(queries[w].runId), None)
            smp.update({
                f"stateful.{w}.add_batch_ms": add,
                f"stateful.{w}.machinery_ms": trig - add,
                f"stateful.{w}.lifecycle_ms": wall - trig,
                f"stateful.{w}.jobs_per_block": jobs,
                f"stateful.{w}.tasks_per_block": tasks,
                f"stateful.{w}.rows_in": float(sum(p.numInputRows for p in prog)),
                f"stateful.{w}.rows_out": float(rows_out[w]),
            })
        for name, key in (("txlog.stage", "stage"), ("txlog.commit", "commit"),
                          ("txlog.read_where", "read_where"), ("txlog.txn_check", "txn_check")):
            mine = [s for s in spans if s["name"] == name]
            smp[f"txlog.{key}_ms"] = 1000 * sum(s["end"] - s["start"] for s in mine)
            smp[f"txlog.{key}_calls"] = len(mine)
        smp["txlog.cas_retries"] = sum(1 for s in spans if s.get("lost_race"))

    def finish(self) -> list[tuple[str, bool]]:
        """The drained outputs must equal the batch operators over the
        same landed rows."""
        from pyspark.sql import functions as F

        from apache_kafka_clickhouse_demo_spark.operators.dedup import domain_cap
        from apache_kafka_clickhouse_demo_spark.operators.sketches import count_min_build
        from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

        sp = self.spark
        cols = ["doc_id", "url_norm", "reg_domain", "domain_rank"]
        docs = sp.read.parquet(self.feed["domain_cap"])
        want_dc = domain_cap(docs, cap=DOMAIN_CAP).select(*cols).orderBy("doc_id").collect()
        got_dc = TransactionalTable(self.out_dir).read(sp).select(*cols).orderBy("doc_id").collect()
        uids = sp.read.parquet(self.feed["cms"])
        want_cms = (
            count_min_build(uids, "user_id", width=CMS_WIDTH, depth=CMS_DEPTH)
            .select("d", "bucket", F.col("n").cast("long")).orderBy("d", "bucket").collect()
        )
        got_cms = (
            TransactionalTable(os.path.join(self.store["cms"], "store")).read(sp)
            .filter(F.col("d").isNotNull()).groupBy("d", "bucket")
            .agg(F.sum("n").cast("long").alias("n")).orderBy("d", "bucket").collect()
        )
        return [
            ("domain_cap_stream == batch domain_cap", [tuple(r) for r in got_dc] == [tuple(r) for r in want_dc]),
            ("domain_cap kept == python oracle", len(got_dc) == sum(self.kept_per_block[: self.next_block])),
            ("count_min_stream == batch count_min_build", [tuple(r) for r in got_cms] == [tuple(r) for r in want_cms]),
        ]

    def end_metrics(self) -> dict[str, float]:
        from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

        tables = [
            TransactionalTable(self.out_dir),
            TransactionalTable(os.path.join(self.store["domain_cap"], "store")),
            TransactionalTable(os.path.join(self.store["cms"], "store")),
        ]
        log_len = data = orphans = size = 0
        for t in tables:
            live = set(t.data_files())
            on_disk = set(_parquet_files(t.path))
            log_len += sum(1 for n in os.listdir(t.log_dir) if n.endswith(".json"))
            data += len(live)
            orphans += len(on_disk - live)
            size += _bytes(on_disk)
        return {
            "txlog.log_len": log_len,
            "txlog.data_files": data,
            "txlog.orphan_files": orphans,
            "txlog.bytes_per_input_byte": size / self.input_bytes,
        }


class QueryMix(Workload):
    """Measured in whole rounds (every kind once per round, in seeded
    order), so every run has the same mix; the warm-up is the first
    round, whose ops are each kind's cold op."""

    name = "query_mix"
    root_span = "query"
    item = "queries"
    warm_up_ops = cold_ops = len(QUERY_KINDS)
    cold_metric = "query.cold_ms"

    def prepare(self) -> None:
        import duckdb

        from apache_kafka_clickhouse_demo_spark import queries as Q
        from oracle_check import table_hash

        self.star = star = os.path.join(self.ctx.work, "star")
        self.counts = FX.write_star_schema(self.ctx.seed, self.ctx.size.query_sf, star)
        con = duckdb.connect()
        for t in self.counts:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{star}/{t}.parquet'")
        sqls = {**Q.oracles(), **Q.extra_oracles()}
        self.want = {}
        for k in QUERY_KINDS[:-1]:
            res = con.execute(sqls[k])
            self.want[k] = table_hash([d[0] for d in res.description], res.fetchall())
        self.want["txlog_read"] = con.execute(
            "SELECT count(*), sum(CAST(round(value * 100) AS BIGINT)) FROM events"
        ).fetchone()
        con.close()
        self.hash = table_hash
        r = FX.rng_for(self.ctx.seed, "query-order")
        self.order = [QUERY_KINDS[j] for _ in range(200) for j in r.permutation(len(QUERY_KINDS))]
        self.next_op = 0

    def start(self) -> None:
        """Commit the events table to a transactional table as four
        appends, so `txlog_read` replays a multi-commit log."""
        import __spark_entry__ as E
        from apache_kafka_clickhouse_demo_spark import queries as Q
        from apache_kafka_clickhouse_demo_spark.sources.tables import load_table
        from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable

        from pyspark.sql import functions as F

        gate = E.queries()
        self.fns = {
            k: gate[k] if k in gate else E._fresh_cache(Q.EXTRA_QUERIES[k])
            for k in QUERY_KINDS[:-1]
        }
        ev = load_table(self.spark, self.star, "events")
        self.store = TransactionalTable(self.dir("txlog_events"))
        for b in range(4):
            self.store.append(ev.filter(F.pmod("event_id", F.lit(4)) == b))

    def has_next(self) -> bool:
        return self.next_op < len(self.order)

    def kind(self, op_id: int) -> str:
        return self.order[op_id - 1]

    def at_boundary(self) -> bool:
        return self.next_op % len(QUERY_KINDS) == 0

    def _txlog_read(self, spark, _dir):
        from pyspark.sql import functions as F

        return self.store.read(spark).agg(
            F.count(F.lit(1)), F.sum(F.round(F.col("value") * 100).cast("long"))
        )

    def op(self, op_id: int) -> tuple[bool, int]:
        kind = self.order[self.next_op]
        self.next_op += 1
        tr, sp = self.tracer, self.spark
        if tr.enabled:
            sp.sparkContext.setJobGroup(f"op{op_id}", kind)
        with tr.span(self.root_span):
            with tr.span("queries.build"):
                df = (self._txlog_read if kind == "txlog_read" else self.fns[kind])(sp, self.star)
            with tr.span("queries.exec"):
                rows = df.collect()
            with tr.span("bench.check"):
                if kind == "txlog_read":
                    ok = tuple(rows[0]) == tuple(self.want[kind])
                else:
                    ok = self.hash(df.columns, [tuple(r) for r in rows]) == self.want[kind]
        self.last_kind = kind
        if tr.enabled:
            self._sample(op_id, kind)
        return ok, 1

    def _sample(self, op_id: int, kind: str) -> None:
        smp = self.samples[op_id]
        spans = [s for s in self.tracer.spans if s["op"] == op_id]
        for name in ("queries.build", "queries.exec") + (("txlog.read",) if kind == "txlog_read" else ()):
            smp[f"{name}_ms"] = 1000 * sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        smp["queries.jobs"], smp["queries.tasks"] = self.jobs.take(f"op{op_id}")
        smp["queries.cached_rdds_left"] = float(
            self.spark.sparkContext._jsc.getPersistentRDDs().size()
        )

    def finish(self) -> list[tuple[str, bool]]:
        return []

    def end_metrics(self) -> dict[str, float]:
        return {}


WORKLOADS = {w.name: w for w in (CascadeIngest, CurationDrain, QueryMix)}
