"""Summarise benchmark result records as markdown.

    python3 perfbench/summarize.py SET_DIR [SET_DIR ...]

Each SET_DIR holds the `result-<workload>-seed<n>-trace<t>.json` records
of one set of runs (copied out of `.perfbench-out/` after each run).  For
every workload it prints each untraced run, then per set and end-to-end
metric the median, the quartiles (`statistics.quantiles(n=4)`) and their
distance as a share of the median next to the metric's bound, and the
ratio of each set's median to the first set's.  For every traced record
it compares the traced per-op self-time sum, and the traced op wall, with
the untraced op wall of the same workload and seed, raw and steal-free."""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
from perfbench.run import steal_free  # noqa: E402

SPEC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")


def load(d: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(d, "result-*.json"))):
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(dirs: list[str]) -> None:
    with open(SPEC) as fh:
        spec = json.load(fh)
    e2e = spec["end_to_end"]
    sets = {d: load(d) for d in dirs}
    workloads = [w["name"] for w in spec["workloads"]]
    workloads += sorted({r["workload"] for recs in sets.values() for r in recs} - set(workloads))
    for w in workloads:
        print(f"\n### {w}\n")
        for d, recs in sets.items():
            runs = sorted((r for r in recs if r["workload"] == w and not r["trace"]), key=lambda r: r["seed"])
            if not runs:
                continue
            print(f"Set `{os.path.basename(d.rstrip('/'))}`, {len(runs)} untraced runs:\n")
            print("| seed | " + " | ".join(m["name"] for m in e2e)
                  + " | steady ops | tail pct (above) | failed/attempted | wall / cpu / steal p50 ms | loadavg before→after |")
            print("|" + "---|" * (len(e2e) + 6))
            for r in runs:
                env = r["env"]
                print(f"| {r['seed']} | " + " | ".join(f"{r[m['name']]:.4g}" for m in e2e)
                      + f" | {r['n_steady']} | p{r['tail_percentile']} ({r['tail_beyond']})"
                      f" | {r['failed']}/{r['attempted']}"
                      f" | {r['op_p50_ms']:.0f} / {r['op_cpu_p50_ms']:.0f} / {r['steal_p50_ms']:.0f}"
                      f" | {env['loadavg_before'][0]:.2f}→{env['loadavg_after'][0]:.2f} |")
            print()
        untraced = {d: [r for r in recs if r["workload"] == w and not r["trace"]] for d, recs in sets.items()}
        untraced = {d: runs for d, runs in untraced.items() if len(runs) >= 2}
        print("| metric | bound | " + " | ".join(
            f"{os.path.basename(d.rstrip('/'))}: median [q1, q3] spread" for d in untraced) + " | median ratio to first set |")
        print("|" + "---|" * (len(untraced) + 3))
        for m in e2e:
            cells, meds = [], []
            for runs in untraced.values():
                med, q1, q3, sp = spread([r[m["name"]] for r in runs])
                meds.append(med)
                cells.append(f"{med:.4g} [{q1:.4g}, {q3:.4g}] {sp:.3f}")
            ratio = ", ".join(f"{x / meds[0]:.3f}" for x in meds[1:]) or "—"
            print(f"| {m['name']} ({m['unit']}, {m['better']}) | {m['bound']} | " + " | ".join(cells) + f" | {ratio} |")
        traced = [(d, r) for d, recs in sets.items() for r in recs if r["workload"] == w and r["trace"]]
        if traced:
            print("\nTraced runs against the untraced run of the same seed (mean per op over the ops both measured):\n")
            print("| seed | ops | untraced op wall ms | traced self-time sum ms | sum / untraced | traced op wall ms | tracing overhead | overhead, steal-free |")
            print("|---|---|---|---|---|---|---|---|")
        for d, t in traced:
            base = next((r for recs in sets.values() for r in recs
                         if r["workload"] == w and not r["trace"] and r["seed"] == t["seed"]), None)
            if base is None:
                continue
            # the same seed lands the same blocks in the same order, so the
            # traced run's steady ops are the first ones of the untraced run
            n = min(len(base["op_ms"]), t["n_steady"])
            base_ms = statistics.mean(base["op_ms"][:n])
            traced_ms = statistics.mean(t["op_ms"][:n])
            self_ms = 1000 * sum(t["self_time_s"].values()) / t["n_steady"]

            def net(r):
                return statistics.mean(map(steal_free, r["op_ms"][:n], r["op_cpu_ms"][:n], r["op_steal_ms"][:n]))

            print(f"| {t['seed']} | {n} | {base_ms:.1f} | {self_ms:.1f} | {self_ms / base_ms:.3f}"
                  f" | {traced_ms:.1f} | {traced_ms / base_ms - 1:+.1%} | {net(t) / net(base) - 1:+.1%} |")


if __name__ == "__main__":
    main(sys.argv[1:])
