"""Streamhouse benchmark command.

    python3 perfbench/run.py --workload cascade_ingest --seed 1 --seconds 22 --trace 0

Runs one workload (see perfbench/workloads.py) on Spark local[n] in this
single process, checks every output against an oracle, prints a
human-readable report, and prints as its LAST stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end metrics named in BENCHMARK.json; with --trace 1 they
are the per-layer metrics, and a self-time table is printed.

Everything the run writes stays under `.perfbench-work/` (inputs, tables,
Spark scratch; removed at exit) and `.perfbench-out/` (result records and
spans) at the repository root."""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
#: well below physical RAM (session.py defaults to 24g); a tight heap also
#: keeps the JVM's peak RSS from wandering with GC heap-expansion timing
DRIVER_MEMORY = "2g"
#: JVM flags that keep a run steady.  Serial GC: no GC worker threads to
#: compete with the op for the vCPUs.  A fixed young generation: adaptive
#: young sizing otherwise moves the JVM's peak RSS by ~15% between
#: identical runs.  C1 only, with a code cache big enough for it (C1's
#: default one fills up and turns the compiler off): C2 recompiles Spark's
#: hot paths all through a run this short, so op latency keeps drifting
#: down, and its compiler arenas move peak RSS by ~15%.
JVM_OPTS = "-XX:+UseSerialGC -Xmn384m -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m"


def pin_env(root: Path) -> dict[str, str]:
    """Point every scratch location at the checkout and pin the clock's
    zone; must run before the JVM starts."""
    work = root / ".perfbench-work"
    shutil.rmtree(work, ignore_errors=True)
    dirs = {k: str(work / k) for k in ("tmp", "spark-local", "norm", "data")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "SPARK_GRAFT_NORM_CACHE": dirs["norm"],
        "PYSPARK_PYTHON": sys.executable,
    })
    time.tzset()
    for p in (str(root), str(root / "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)
    return dirs


def cores() -> int:
    return len(os.sched_getaffinity(0))


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of `root` and every live descendant (the
    JVM, Python workers), each with its reaped children.  Time the host
    takes a vCPU away (steal) is not charged to a process."""
    parent, ticks = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(name)] = int(f[1])
        ticks[int(name)] = sum(int(x) for x in f[11:15])
    total = 0
    for pid, t in ticks.items():
        p = pid
        while p > 1 and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += t
    return total / CLK_TCK


def steal_s() -> float:
    """Machine-wide CPU seconds the host has taken from this VM's vCPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / CLK_TCK


def steal_free(wall: float, cpu: float, stolen: float) -> float:
    """An op's wall time with the host's CPU steal taken out.  A vCPU
    accrues steal only while it has work the host does not run, and the
    benchmark is the only busy process, so `stolen / (cpu + stolen)` is
    the share of the op's runnable time the host took away.  Removing that
    share from the wall time leaves what the op would take on an unshared
    host.  Waiting that is the program's own (locks, sleeps, I/O) stays."""
    return wall * cpu / (cpu + stolen) if stolen > 0 and cpu > 0 else wall


def start_session(dirs: dict[str, str], threads: int):
    """Spark on `threads` task threads, with as many shuffle partitions."""
    from apache_kafka_clickhouse_demo_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{threads}]",
        shuffle_partitions=threads,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} {JVM_OPTS}",
            "spark.sql.warehouse.dir": os.path.join(dirs["tmp"], "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples above it) of the highest whole
    percentile with at least ten samples above it.  Below 40 samples that
    rule would fall under p75, so the tail is then p75 (nearest rank) and
    the report shows how few samples lie beyond it."""
    v = sorted(values)
    n = len(v)
    p75 = math.ceil(0.75 * n) - 1
    if n - 11 >= p75:
        return v[n - 11], math.floor(100 * (n - 10) / n), 10
    return v[p75], 75, n - 1 - p75


def benchmark_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def run_workload(spark, session_s: float, name: str, seed: int, seconds: float,
                 trace: bool, size, work: str, out: str) -> dict:
    """One run on a started session (`session_s` seconds to start): set
    up, warm up, measure a closed loop for `seconds`, check outputs.
    Returns the result record."""
    from perfbench.trace import Tracer, instrument_txlog
    from perfbench.workloads import WORKLOADS, Context

    tracer = Tracer(trace)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    wl = WORKLOADS[name](Context(spark, work, seed, size, tracer))
    record: dict = {"workload": name, "seed": seed, "seconds": seconds, "trace": int(trace)}
    attempted = failed = 0
    lat: dict[int, float] = {}
    cpu: dict[int, float] = {}
    stolen: dict[int, float] = {}
    me = os.getpid()

    def run_op(op_id: int) -> int:
        nonlocal attempted, failed
        attempted += 1
        tracer.op_id = op_id
        c, st = tree_cpu_s(me), steal_s()
        t = time.perf_counter()
        try:
            ok, n = wl.op(op_id)
        except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            ok, n = False, 0
        lat[op_id] = time.perf_counter() - t
        cpu[op_id] = tree_cpu_s(me) - c
        stolen[op_id] = steal_s() - st
        tracer.op_id = None
        if not ok:
            failed += 1
        return n

    with instrument_txlog(tracer) if trace else contextlib.nullcontext():
        try:
            t = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.start()
            for op_id in range(1, wl.warm_up_ops + 1):
                run_op(op_id)
            record["setup_parts_s"] = {"session_start": session_s, "prepare": prepare_s,
                                       "start_and_warm_up": time.perf_counter() - t}
            record["cold_ms"] = {wl.kind(i): lat[i] * 1000 for i in range(1, wl.cold_ops + 1)}
            record["warm_up_ms"] = [lat[i] * 1000 for i in range(1, wl.warm_up_ops + 1)]
            record["setup_s"] = sum(record["setup_parts_s"].values())
            steady: list[int] = []
            items = 0
            t0 = time.perf_counter()
            while wl.has_next():
                if time.perf_counter() - t0 >= seconds and wl.at_boundary():
                    break
                op_id += 1
                items += run_op(op_id)
                steady.append(op_id)
            elapsed = time.perf_counter() - t0
            checks = []
            try:
                checks = wl.finish()
            except Exception:  # noqa: BLE001
                traceback.print_exc(file=sys.stderr)
                checks = [("final oracle check raised", False)]
            attempted += len(checks)
            failed += sum(1 for _, ok in checks if not ok)
            record["checks"] = checks
            end = wl.end_metrics() if trace else {}
        finally:
            wl.close()

    vals = [lat[i] * 1000 for i in steady]
    net = [1000 * steal_free(lat[i], cpu[i], stolen[i]) for i in steady]
    tail_v, tail_p, beyond = tail(vals)
    record.update({
        "attempted": attempted, "failed": failed, "n_steady": len(steady), "op_ms": vals,
        "op_cpu_ms": [cpu[i] * 1000 for i in steady], "op_steal_ms": [stolen[i] * 1000 for i in steady],
        "op_cpu_p50_ms": statistics.median(cpu[i] * 1000 for i in steady),
        "steal_p50_ms": statistics.median(stolen[i] * 1000 for i in steady),
        "op_p50_ms": statistics.median(vals), "op_tail_ms": tail_v, "tail_percentile": tail_p, "tail_beyond": beyond,
        "op_p50_steal_free_ms": statistics.median(net), "op_tail_steal_free_ms": tail(net)[0],
        "throughput_per_s": items / elapsed, "item": wl.item,
        "driver_peak_rss_mb": jvm_peak_rss_mb(spark),
    })
    if trace:
        ops = set(steady)
        roots = [s for s in tracer.spans if s["op"] in ops and s["name"] == wl.root_span]
        layer = wl.layer_metrics(ops)
        layer.update(end)
        layer[wl.cold_metric] = statistics.mean(record["cold_ms"].values())
        layer["session.start_s"] = session_s
        layer["trace.op_wall_ms"] = statistics.median(
            1000 * (s["end"] - s["start"]) for s in roots
        )
        layer["trace.spans_per_op"] = sum(1 for s in tracer.spans if s["op"] in ops) / len(ops)
        record["layer"] = layer
        record["self_time_s"] = dict(tracer.self_times(ops))
        record["span_totals"] = tracer.totals(ops)
        tracer.dump(os.path.join(out, f"spans-{name}-seed{seed}.json"))
    return record


REPORT_NAMES = {
    "cascade_ingest": ("block_visible", "ingest_events_per_s"),
    "curation_drain": ("drain_block", "drain_rows_per_s"),
    "query_mix": ("query", "queries_per_s"),
}


def report(rec: dict) -> list[str]:
    """Human-readable lines, with each end-to-end metric under its
    workload-specific name as well."""
    op, thr = REPORT_NAMES[rec["workload"]]
    lines = [
        f"{op}_p50_ms        {rec['op_p50_ms']:.3f} ms (n={rec['n_steady']})",
        f"{op}_tail_ms       {rec['op_tail_ms']:.3f} ms (p{rec['tail_percentile']}, {rec['tail_beyond']} above, n={rec['n_steady']})",
        f"{op}_p50_steal_free_ms   {rec['op_p50_steal_free_ms']:.3f} ms (each op's wall x cpu / (cpu + host steal))",
        f"{op}_tail_steal_free_ms  {rec['op_tail_steal_free_ms']:.3f} ms (p{rec['tail_percentile']})",
        f"{thr:<22} {rec['throughput_per_s']:.3f} {rec['item']}/s",
        f"failed_ops_ratio       {rec['failed'] / rec['attempted']:.4f} ({rec['failed']}/{rec['attempted']})",
        f"driver_peak_rss_mb     {rec['driver_peak_rss_mb']:.1f} MB",
        f"op_cpu_p50_ms          {rec['op_cpu_p50_ms']:.1f} ms (CPU of this process tree per op)",
        f"steal_p50_ms           {rec['steal_p50_ms']:.1f} ms (host CPU steal per op, all vCPUs)",
        f"setup_s                {rec['setup_s']:.3f} s  {json.dumps(rec['setup_parts_s'])}",
        "cold_ms                " + json.dumps({k: round(v, 1) for k, v in rec["cold_ms"].items()}),
    ]
    lines += [f"check  {'ok  ' if ok else 'FAIL'} {name}" for name, ok in rec["checks"]]
    if "self_time_s" in rec:
        st = rec["self_time_s"]
        total = sum(st.values()) or 1.0
        n = rec["n_steady"]
        lines.append(f"self time per op ({rec['workload']}, {n} steady ops, traced):")
        for k, v in sorted(st.items(), key=lambda kv: -kv[1]):
            lines.append(f"  {k:<34} {1000 * v / n:10.2f} ms  {100 * v / total:5.1f}%")
        lines.append(f"  {'sum':<34} {1000 * total / n:10.2f} ms")
    return lines


def result_line(rec: dict, spec: dict, trace: bool) -> dict:
    """The final stdout object: end-to-end metrics untraced, per-layer
    metrics traced.  A layer the workload never touches reads 0."""
    if trace:
        metrics = {m["name"]: rec["layer"].get(m["name"], 0.0) for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: rec[m["name"]] for m in spec["end_to_end"]}
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(REPORT_NAMES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    dirs = pin_env(ROOT)
    import duckdb
    import pyspark

    from perfbench import fixtures as FX
    from perfbench.workloads import WORKLOADS

    spec = benchmark_spec()
    threads = WORKLOADS[args.workload].spark_threads or cores()
    out = str(ROOT / ".perfbench-out")
    os.makedirs(out, exist_ok=True)
    load_before = os.getloadavg()
    t = time.perf_counter()
    spark = start_session(dirs, threads)
    session_s = time.perf_counter() - t
    try:
        rec = run_workload(
            spark, session_s, args.workload, args.seed, args.seconds, bool(args.trace),
            FX.FULL, dirs["data"], out,
        )
    finally:
        stop_session(spark)
        shutil.rmtree(ROOT / ".perfbench-work", ignore_errors=True)
    rec["env"] = {
        "cores": cores(), "spark_master": f"local[{threads}]",
        "SPARK_LOCAL_DIRS": os.path.relpath(dirs["spark-local"], ROOT),
        "driver_memory": DRIVER_MEMORY, "jvm_opts": JVM_OPTS, "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__, "python": platform.python_version(),
        "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
    }
    for line in report(rec):
        print(line)
    print("env " + json.dumps(rec["env"]))
    with open(os.path.join(out, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)

    print(json.dumps(result_line(rec, spec, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
