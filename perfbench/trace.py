"""Tracing from outside the engine: spans around its public functions,
Spark job groups per operation, and an event-log parser.

Nothing here edits the engine. `Tracer.wrap_module` replaces a public
function with a timing wrapper in its home module AND in every engine
module that imported it by name (``from .online import ...``), so calls
made inside the engine are seen too. `Tracer.unwrap` restores them.

A span records name, start, end, its parent span and the operation
(request) it belongs to. Self time is a span's duration minus the part
of its interval its children cover.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import statistics
import sys
import time
from collections import defaultdict


@dataclasses.dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: str | None  # operation id, e.g. "get#17"
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append((s.start, s.end))
    return {s.id: s.dur - covered(kids[s.id], s.start, s.end) for s in spans}


class Tracer:
    """In-memory span recorder. ``enabled`` gates recording so an op can
    run untraced between traced ones with the wrappers left in place."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[Span] = []
        self._op: str | None = None
        self._restore: list[tuple[object, str, object]] = []

    def span(self, name: str):
        return _SpanCtx(self, name)

    def op(self, op_id: str | None):
        """Open an operation: spans until the next call belong to it."""
        self._op = op_id

    def _open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, parent, self._op, self.clock())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = self.clock()
        self._stack.remove(s)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            s = self._open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                self._close(s)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, orig))

    def wrap_module(self, module, names: list[str], layer: str, package: str) -> None:
        """Wrap ``module.<name>`` for each name, here and wherever an
        engine module bound the same function object."""
        for attr in names:
            orig = getattr(module, attr)
            users = [
                m for key, m in list(sys.modules.items())
                if m is not None and key.startswith(package) and m is not module
                and getattr(m, attr, None) is orig
            ]
            self.wrap(module, attr, f"{layer}.{attr}")
            for m in users:
                setattr(m, attr, getattr(module, attr))
                self._restore.append((m, attr, orig))

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name, self.s = tracer, name, None

    def __enter__(self):
        self.s = self.tracer._open(self.name)
        return self.s

    def __exit__(self, *exc):
        self.tracer._close(self.s)
        return False


def span_stats(spans: list[Span]) -> dict[str, dict[str, list[float]]]:
    """Span name -> {"dur": [...], "self": [...]} in seconds."""
    st = self_times(spans)
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: {"dur": [], "self": []})
    for s in spans:
        out[s.name]["dur"].append(s.dur)
        out[s.name]["self"].append(st[s.id])
    return out


def spans_per_op(spans: list[Span], name: str, op_prefix: str) -> float:
    """Mean number of ``name`` spans per operation whose id starts with
    ``op_prefix`` (0 when no such operation ran)."""
    ops = {s.op for s in spans if s.op and s.op.startswith(op_prefix)}
    if not ops:
        return 0.0
    n = sum(1 for s in spans if s.name == name and s.op in ops)
    return n / len(ops)


# -- Spark event log ------------------------------------------------------


def event_log_files(evdir: str) -> list[str]:
    """Every event-log file under ``evdir`` (plain or rolling layout)."""
    out = []
    for root, _dirs, files in os.walk(evdir):
        out.extend(os.path.join(root, f) for f in sorted(files) if not f.startswith("."))
    return sorted(out)


def parse_event_log(lines) -> dict[str, dict[str, float]]:
    """Job group -> {jobs, stages, tasks, cpu_ms, gc_ms, shuffle_bytes}.

    Stages are the ones that ran (a stage skipped because its shuffle
    output was reused has no completion event). Tasks are attributed to
    their stage's job group.
    """
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_bytes": 0}
    )
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            acc[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            acc[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"], "")
            tm = ev.get("Task Metrics") or {}
            a = acc[group]
            a["tasks"] += 1
            a["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
            a["gc_ms"] += tm.get("JVM GC Time", 0)
            a["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return dict(acc)


def per_op_type(groups: dict[str, dict[str, float]], op_type: str) -> dict[str, float]:
    """Median of each counter over the job groups of one op type (groups
    are named ``<op_type>#<n>``)."""
    rows = [v for k, v in groups.items() if k.split("#")[0] == op_type]
    if not rows:
        return {k: 0.0 for k in ("jobs", "stages", "tasks", "cpu_ms", "gc_ms", "shuffle_bytes")}
    return {k: float(statistics.median(r[k] for r in rows)) for k in rows[0]}


# -- box diagnostics ------------------------------------------------------


def cpu_ticks() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    vals = [int(x) for x in parts[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def steal_pct(before, after) -> float:
    if not before or not after or after[1] <= before[1]:
        return 0.0
    return 100.0 * (after[0] - before[0]) / (after[1] - before[1])


def canary_ms(spark) -> float:
    """A fixed trivial Spark job plus a fixed pure-Python loop."""
    t0 = time.perf_counter()
    spark.range(0, 1000, numPartitions=2).count()
    acc = 0
    for i in range(200_000):
        acc += i & 7
    return (time.perf_counter() - t0) * 1000.0
