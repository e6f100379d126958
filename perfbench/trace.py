"""Spans and counts for the traced run, recorded from the benchmark's own
files around each call into a layer.

A span is (name, start, end, parent, op id, thread).  Spans stay in
memory and are written out when the run ends.  Work the library does on
other threads (foreachBatch callbacks, a writer's side staging thread)
is parented to the deepest span the main thread has open, so it lands
under the drain that caused it.

Self time is computed with a sweep over each op's root interval: every
instant goes to the deepest span active at that instant (the earliest
started one on a tie), so the self times of one op add up to its wall
exactly even where sibling spans overlap."""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[dict] = []

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Time the block as span `name`; yields the span (None when off)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None:
            if stack:
                parent = stack[-1]
            elif self._main_stack:
                parent = self._main_stack[-1]
        s = {
            "id": next(self._ids),
            "name": name,
            "op": self.op_id,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def op_spans(self) -> dict[int, list[dict]]:
        by_op: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["op"] is not None:
                by_op[s["op"]].append(s)
        return by_op

    def self_times(self, ops: set[int]) -> dict[str, float]:
        """Seconds of self time per span name over the given ops."""
        out: dict[str, float] = defaultdict(float)
        for op, spans in self.op_spans().items():
            if op not in ops:
                continue
            ids = {s["id"]: s for s in spans}
            roots = [s for s in spans if s["parent"] not in ids]
            root = min(roots, key=lambda s: s["start"])
            depth = {}

            def d(s):
                if s["id"] not in depth:
                    p = ids.get(s["parent"])
                    depth[s["id"]] = 0 if p is None else d(p) + 1
                return depth[s["id"]]

            lo, hi = root["start"], root["end"]
            clipped = [
                (max(s["start"], lo), min(s["end"], hi), d(s), s) for s in spans
            ]
            cuts = sorted({c for a, b, _, _ in clipped for c in (a, b) if a < b})
            for a, b in itertools.pairwise(cuts):
                active = [
                    (-dep, s["start"], s["id"], s)
                    for x, y, dep, s in clipped
                    if x <= a and y >= b
                ]
                if active:
                    out[min(active, key=lambda t: t[:3])[3]["name"]] += b - a
        return out

    def totals(self, ops: set[int]) -> dict[str, tuple[float, int]]:
        """(seconds, calls) per span name over the given ops, overlap
        counted in full."""
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if s["op"] in ops:
                out[s["name"]][0] += s["end"] - s["start"]
                out[s["name"]][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


@contextlib.contextmanager
def instrument_txlog(tracer: Tracer):
    """Wrap `TransactionalTable`'s public write/read calls in spans, and
    count commit attempts that lost a version race (`_publish` returning
    False), for the duration of the block.  Untraced runs never enter it."""
    from apache_kafka_clickhouse_demo_spark.sources.txlog import TransactionalTable as TT

    wrapped = {
        "stage_for_append": "txlog.stage",
        "commit_staged": "txlog.commit",
        "read_where": "txlog.read_where",
        "txn_committed": "txlog.txn_check",
        "read": "txlog.read",
        "_publish": "txlog.publish",
    }
    originals = {m: getattr(TT, m) for m in wrapped}

    def wrap(method: str, name: str):
        orig = originals[method]

        @functools.wraps(orig)
        def inner(self, *a, **kw):
            with tracer.span(name) as s:
                out = orig(self, *a, **kw)
                if method == "_publish" and s is not None:
                    s["lost_race"] = not out
                return out

        return inner

    for m, name in wrapped.items():
        setattr(TT, m, wrap(m, name))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(TT, m, orig)
