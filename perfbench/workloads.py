"""The three workloads, their operations, and the measured loop.

One client thread, closed loop: the next operation starts when the
previous one returned. Every operation's answer is checked, outside the
timed interval, against the pandas reference built by `gen`.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

from . import check, gen
from .trace import canary_ms, cpu_ticks, per_op_type, span_stats, spans_per_op, steal_pct

SCHEMA = "customer_id long, event_time string, purchase_value double, loyalty_score double, is_deleted boolean"
LABEL_SCHEMA = "customer_id long, label_time string, label double"
REGISTRY_QUERY = "graph_bfs_depths"
FRESH_GETS = 2  # just-written keys read back after each measured refresh
MIN_SAMPLES = 3  # per op type, in warm-up and measured phase: one slow sample cannot set a median
WARM_CYCLE = 1_000_000  # warm-up cycles draw from their own streams

# workload -> (primary op, secondary op); a cycle interleaves both
ROLES = {
    "serve": ("get", "batch_get"),
    "refresh": ("refresh", "fresh_get"),
    "offline": ("training_set", "bfs"),
}


def cycle_ops(workload: str, seed: int, c: int, sizes: gen.Sizes) -> list[tuple]:
    """The ops of cycle ``c``: a pure function of (seed, c)."""
    rng = gen.rng_for(seed, 10, c)
    if workload == "serve":
        keys = gen.zipf_keys(rng, 3 + 100, seed, sizes)
        ops = [("get", int(k)) for k in keys[:3]] + [("batch_get", [int(k) for k in keys[3:]])]
        return [ops[i] for i in rng.permutation(len(ops))]
    if workload == "refresh":
        return [("refresh",)]  # batches are numbered in ingest order
    ops = [("training_set",)] * 3 + [("bfs",)]
    return [ops[i] for i in rng.permutation(len(ops))]


class Run:
    """State of one benchmark run: the engine handles, the reference,
    the samples and the checks."""

    def __init__(self, seed, spark, fs, hist, work, sizes, tracer=None):
        self.seed, self.spark, self.fs = seed, spark, fs
        self.sizes, self.work, self.tracer = sizes, work, tracer
        self.name = gen.GROUP_NAME
        self.ref = gen.Reference(hist)
        self.frames = [hist]  # every ingested user frame, in order
        self.user_bytes = gen.parquet_bytes(hist)
        self.samples: dict[str, list[float]] = defaultdict(list)  # measured, per op type
        self.untraced: dict[str, list[float]] = defaultdict(list)  # traced runs' untraced ops
        self.warm: dict[str, list[float]] = defaultdict(list)  # warm-up durations
        self.problems: list[str] = []
        self.attempted = self.failed = 0
        self.recording = False  # samples are kept only in the measured phase
        self.trace_this = False
        self.next_batch = 0
        self.fresh_gets = FRESH_GETS  # just-written keys read back after a refresh
        self.n_op = 0
        self.fallbacks = 0
        self.fallback_ops: list[str] = []  # "<op_type>#<n>" of each op that fell back
        self.group_type: dict[str, str] = {}  # job group -> op type, where it is not the group's prefix
        self.refresh_fs: list[tuple[float, float]] = []  # (dirty frac, rewritten/batch bytes)
        self.canaries: list[float] = []
        self._ts_ref: tuple[int, list] | None = None
        self._labels = gen.labels(seed, sizes)
        self._labels_df = spark.createDataFrame(self._labels, LABEL_SCHEMA)
        self._oracle = None

    # -- timing ---------------------------------------------------------

    def _timed(self, op_type: str, fn):
        """Run ``fn`` as one operation; returns (result, seconds).

        An operation during which a lookup fell back from the online
        snapshot to the derived latest view (a stale-snapshot fallback)
        got its answer over another path. Its time is kept apart, as op
        type ``<op_type>_fallback``, so the lookup metrics time only the
        snapshot path; ``run.fallbacks`` counts the fallbacks."""
        self.n_op += 1
        f0 = self.fallbacks
        traced = self.tracer is not None and self.trace_this
        if self.tracer is not None:
            op_id = f"{op_type}{'' if traced else '@u'}#{self.n_op}"
            self.spark.sparkContext.setJobGroup(op_id, op_id)
            self.tracer.op(op_id)
            self.tracer.enabled = traced
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span(f"op.{op_type}"):
                    out = fn()
            else:
                out = fn()
        finally:
            dt = time.perf_counter() - t0
            if self.tracer is not None:
                self.tracer.enabled = False
                self.tracer.op(None)
        if self.fallbacks > f0:
            self.fallback_ops.append(f"{op_type}#{self.n_op}")
            if self.tracer is not None:
                self.group_type[op_id] = f"{op_type}_fallback"
            op_type = f"{op_type}_fallback"
        if self.recording:
            (self.samples if (self.tracer is None or traced) else self.untraced)[op_type].append(dt)
        else:
            self.warm[op_type].append(dt)
        return out, dt

    def _judge(self, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:1])

    def do(self, op: tuple) -> None:
        """Run one op and check its answer; an exception counts as a
        failed op."""
        try:
            getattr(self, f"op_{op[0]}")(*op[1:])
        except Exception as exc:  # noqa: BLE001 — one failed op must not end the run
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"{op[0]} raised {type(exc).__name__}: {str(exc)[:300]}")

    # -- operations -----------------------------------------------------

    def op_get(self, key: int, kind: str = "get") -> None:
        got, _ = self._timed(kind, lambda: self.fs.get_record(self.name, key))
        self._judge(check.check_get(got, self.ref.record(key)))

    def op_fresh_get(self, key: int) -> None:
        self.op_get(key, "fresh_get")

    def op_batch_get(self, keys: list[int]) -> None:
        got, _ = self._timed("batch_get", lambda: self.fs.batch_get_record(self.name, keys))
        self._judge(check.check_batch_get(got, {k: self.ref.record(k) for k in keys}))

    def op_refresh(self) -> None:
        """Ingest the next micro-batch into the offline store and MERGE
        it into the online store, then read back just-written keys."""
        c = self.next_batch
        self.next_batch += 1
        batch = gen.micro_batch(self.seed, c, self.sizes)
        sdf = self.spark.createDataFrame(batch, SCHEMA)
        before = self._online_files() if self.trace_this else None

        def refresh():
            out = self.fs.ingest(self.name, sdf)
            self.fs.upsert_online(self.name, out)

        self._timed("refresh", refresh)
        self.ref.apply(batch)
        self.frames.append(batch)
        nbytes = gen.parquet_bytes(batch)
        self.user_bytes += nbytes
        if before is not None:
            self.refresh_fs.append(_rewrite_stats(before, self._online_files(), nbytes))
        self.attempted += 1  # the refresh itself; read-your-write checks it
        rng = gen.rng_for(self.seed, 11, c)
        live = batch[~batch[gen.DELETED]][gen.KEY].to_numpy()
        for k in rng.choice(live, min(self.fresh_gets, len(live)), replace=False):
            self.op_fresh_get(int(k))

    def op_training_set(self) -> None:
        from cust_sagemaker_feature_store_spark.operators.asof import asof_join

        lo, hi = (gen.iso(np.array([s]))[0] for s in gen.training_window_seconds(self.sizes))

        def build():
            window = self.fs.history_between(self.name, lo, hi)
            return asof_join(
                self._labels_df, window, on=gen.KEY, probe_time="label_time", feature_time=gen.TIME
            ).collect()

        rows, _ = self._timed("training_set", build)
        want = self._training_reference()
        cols = [gen.KEY, "label_time", "label", gen.TIME, *gen.VALUES]
        got = [tuple(r[c] for c in cols) for r in rows]
        self._judge(check.check_rows("training_set", got, want))

    def op_scan(self) -> None:
        """Traced runs only: the training window's offline scan alone."""
        lo, hi = (gen.iso(np.array([s]))[0] for s in gen.training_window_seconds(self.sizes))
        n, _ = self._timed("scan", lambda: self.fs.history_between(self.name, lo, hi).count())
        want = len(self._window_frame(lo, hi))
        self._judge([] if n == want else [f"scan: got {n} rows, want {want}"])

    def op_materialize(self) -> None:
        self._timed("materialize", lambda: self.fs.materialize_online(self.name))
        self.attempted += 1  # checked by the end-state online_store check

    def op_bfs(self) -> None:
        from cust_sagemaker_feature_store_spark.queries import REGISTRY

        rows, _ = self._timed("bfs", lambda: REGISTRY[REGISTRY_QUERY].fn(self.spark, self.registry_dir).collect())
        self._judge(self._check_oracle(rows))

    # -- references -----------------------------------------------------

    @property
    def registry_dir(self) -> str:
        return os.path.join(self.work, "registry")

    def _window_frame(self, lo: str, hi: str) -> pd.DataFrame:
        allrows = pd.concat(self.frames, ignore_index=True)
        return allrows[(allrows[gen.TIME] >= lo) & (allrows[gen.TIME] <= hi)]

    def _training_reference(self) -> list[tuple]:
        if self._ts_ref is None or self._ts_ref[0] != len(self.frames):
            allrows = pd.concat(self.frames, ignore_index=True)
            self._ts_ref = (len(self.frames), gen.training_set(allrows, self._labels, self.sizes))
        return self._ts_ref[1]

    def _check_oracle(self, rows) -> list[str]:
        from cust_sagemaker_feature_store_spark.queries import REGISTRY
        from cust_sagemaker_feature_store_spark.testing import duckdb_connection, frame_multiset, oracle_fetch

        if self._oracle is None:
            con = duckdb_connection(self.registry_dir, ("lineitem",))
            try:
                self._oracle = frame_multiset(*oracle_fetch(con, REGISTRY[REGISTRY_QUERY].oracle))
            finally:
                con.close()
        got = frame_multiset(["part_key", "depth"], [tuple(r) for r in rows])
        return [] if got == self._oracle else [f"{REGISTRY_QUERY}: result differs from its DuckDB oracle"]

    def check_online_store(self) -> None:
        rows = self.fs.online_store(self.name).collect()
        got = [tuple(gen.cell(r[c]) for c in gen.FEATURES) for r in rows]
        want = [tuple(gen.record_values(rec)) for rec in self.ref.live().values()]
        self._judge(check.check_rows("online_store", got, want))

    # -- storage --------------------------------------------------------

    def _online_files(self) -> dict[str, int]:
        return _data_files(self.fs.online_path(self.name))

    def stored_bytes(self) -> int:
        return sum(_data_files(self.fs.offline_path(self.name)).values()) + sum(self._online_files().values())


def _data_files(root: str) -> dict[str, int]:
    """Relative path -> size of every data file under ``root`` (hidden
    checksum files and underscore sidecars excluded)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def _rewrite_stats(before: dict[str, int], after: dict[str, int], batch_bytes: int) -> tuple[float, float]:
    """(share of bucket directories whose files changed, bytes of new
    files per byte of batch)."""
    buckets = {os.path.dirname(p) for p in set(before) | set(after)}
    dirty = {os.path.dirname(p) for p in set(before) ^ set(after)}
    new_bytes = sum(v for p, v in after.items() if p not in before)
    return len(dirty) / max(1, len(buckets)), new_bytes / max(1, batch_bytes)


# -- phases ---------------------------------------------------------------


def warm_up(run: Run, workload: str, seed: int, max_s: float = 18.0) -> None:
    """Untimed: whole cycles until each of the cycle's op types has run
    ``MIN_SAMPLES`` times and its last two runs agree within 10%; once
    each has run ``MIN_SAMPLES`` times, no further cycle that would end
    after ``max_s``, and none at all after ``3 * max_s`` (an op that
    keeps failing records nothing). ``run.warm`` keeps the durations.

    Refreshes skip their read-backs here: the refresh is the op slowest
    to warm (its second and third runs can still be 10-30% slower than
    later ones, more so on a busy host), and set-up's first get already
    warmed the read path."""
    kinds = {op[0] for op in cycle_ops(workload, seed, WARM_CYCLE, run.sizes)}
    t0 = time.perf_counter()
    c = 0
    run.fresh_gets = 0
    try:
        while True:
            tc = time.perf_counter()
            for op in cycle_ops(workload, seed, WARM_CYCLE + c, run.sizes):
                run.do(op)
            c += 1
            now = time.perf_counter()
            enough = all(len(run.warm[k]) >= MIN_SAMPLES for k in kinds)
            steady = all(abs(v[-1] - v[-2]) <= 0.1 * v[-2] for v in run.warm.values() if len(v) >= 2)
            if (enough and (steady or (now - t0) + (now - tc) > max_s)) or now - t0 > 3 * max_s:
                return
    finally:
        run.fresh_gets = FRESH_GETS


def measure(run: Run, workload: str, seed: int, seconds: float) -> int:
    """Whole cycles until ``seconds`` have passed and each of the
    workload's two measured op types has ``MIN_SAMPLES`` samples, traced
    or not (a lookup that fell back records none), but no longer than
    ``3 * seconds`` (an op that keeps failing records nothing); returns
    cycles run."""
    run.recording = True
    t_end = time.perf_counter() + seconds
    c = 0
    while c == 0 or time.perf_counter() < t_end or (
        any(len(run.samples[t]) + len(run.untraced[t]) < MIN_SAMPLES for t in ROLES[workload])
        and time.perf_counter() < t_end + 2 * seconds
    ):
        for i, op in enumerate(cycle_ops(workload, seed, c, run.sizes)):
            if run.tracer is not None:
                run.trace_this = (c + i) % 2 == 0  # traced and untraced ops interleave
            run.do(op)
        c += 1
    run.recording = False
    run.trace_this = False
    return c


def panel(run: Run, workload: str) -> None:
    """Traced runs only: each op type the workload does not run, once
    untraced (warm-up) and once traced, so every layer reports on every
    workload. The refresh comes last so reads see the measured store."""
    ran = {t for t, v in run.samples.items() if v}
    order = ["scan", "training_set", "materialize", "bfs", "get", "batch_get", "refresh"]
    rng = gen.rng_for(run.seed, 12)
    for t in order:
        if t in ran:
            continue
        if t in ("get", "batch_get"):
            keys = [int(k) for k in gen.zipf_keys(rng, 100, run.seed, run.sizes)]
            op = ("get", keys[0]) if t == "get" else ("batch_get", keys)
        else:
            op = (t,)
        for traced in (False, True):
            run.trace_this = traced
            run.recording = True
            run.do(op)
        run.recording = False
    run.trace_this = False


# -- metrics --------------------------------------------------------------


def _median_ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1000.0 if xs else 0.0


def end_to_end(run: Run, workload: str, setup_s: float) -> dict[str, float]:
    primary, secondary = ROLES[workload]
    return {
        "setup_s": setup_s,
        "op_p50_ms": _median_ms(run.samples[primary]),
        "op2_p50_ms": _median_ms(run.samples[secondary]),
        "stored_bytes_per_user_byte": run.stored_bytes() / run.user_bytes,
    }


def per_layer(run: Run, workload: str, session_s: float, groups: dict) -> dict[str, float]:
    spans = run.tracer.spans
    st = span_stats(spans)
    # ops that fell back are counted apart from their op type
    groups = {_relabel(k, run.group_type.get(k)): v for k, v in groups.items()}

    def med(name: str, key: str = "dur") -> float:
        return _median_ms(st[name][key]) if name in st else 0.0

    primary = ROLES[workload][0]
    tr, un = run.samples[primary], run.untraced[primary]
    overhead = 100.0 * (statistics.median(tr) / statistics.median(un) - 1.0) if tr and un else 0.0
    get, ref = per_op_type(groups, "get"), per_op_type(groups, "refresh")
    offline = _data_files(run.fs.offline_path(run.name))
    parts = {os.path.dirname(p) for p in offline}
    n_rows = sum(len(f) for f in run.frames)
    out = {
        "session.start_s": session_s,
        "feature_store.get_self_ms": med("feature_store.get_record", "self"),
        "feature_store.batch_get_ms": med("feature_store.batch_get_record"),
        "feature_store.ingest_ms": med("feature_store.ingest"),
        "feature_store.materialize_ms": med("feature_store.materialize_online"),
        "feature_store.fallback_count": float(run.fallbacks),
        "online.meta_reads_per_get": spans_per_op(spans, "online.read_snapshot_meta", "get#"),
        "online.meta_read_ms": med("online.read_snapshot_meta"),
        "online.bucket_prune_ms": med("online.read_snapshot_bucket"),
        "online.upsert_ms": med("online.upsert_bucketed_snapshot"),
        "online.dirty_bucket_frac": statistics.fmean(d for d, _ in run.refresh_fs) if run.refresh_fs else 0.0,
        "online.bytes_rewritten_per_batch_byte": statistics.fmean(b for _, b in run.refresh_fs) if run.refresh_fs else 0.0,
        "online.snapshot_bytes": float(sum(run._online_files().values())),
        "ids.dense_ids_ms": med("ids.with_dense_row_ids"),
        "asof.join_ms": med("op.training_set", "self"),  # the collect that runs the join
        "offline.scan_ms": med("op.scan"),
        "offline.files_per_partition": len(offline) / max(1, len(parts)),
        "offline.bytes_per_row": sum(offline.values()) / max(1, n_rows),
        f"registry.{REGISTRY_QUERY}_s": med("op.bfs") / 1000.0,
        "spark.jobs_per_get": get["jobs"],
        "spark.tasks_per_get": get["tasks"],
        "spark.jobs_per_batch_get": per_op_type(groups, "batch_get")["jobs"],
        "spark.jobs_per_refresh": ref["jobs"],
        "spark.tasks_per_refresh": ref["tasks"],
        "spark.jobs_per_training_set": per_op_type(groups, "training_set")["jobs"],
        "spark.jobs_per_materialize": per_op_type(groups, "materialize")["jobs"],
        f"spark.jobs_per_query.{REGISTRY_QUERY}": per_op_type(groups, "bfs")["jobs"],
        f"spark.stages_per_query.{REGISTRY_QUERY}": per_op_type(groups, "bfs")["stages"],
        "spark.executor_cpu_ms_per_get": get["cpu_ms"],
        "spark.executor_cpu_ms_per_refresh": ref["cpu_ms"],
        "spark.shuffle_bytes_per_refresh": ref["shuffle_bytes"],
        "spark.gc_ms": sum(v["gc_ms"] for k, v in groups.items() if "@u" not in k and "#" in k),
        "trace.overhead_pct": overhead,
    }
    return out


def _relabel(group: str, op_type: str | None) -> str:
    """Job group ``<type>[@u]#<n>`` renamed to op type ``op_type``."""
    if op_type is None:
        return group
    head, _, n = group.partition("#")
    return f"{op_type}{'@u' if head.endswith('@u') else ''}#{n}"


def box_record(run: Run, ticks0) -> dict[str, float]:
    return {
        "box.canary_ms": statistics.median(run.canaries) if run.canaries else 0.0,
        "box.steal_pct": steal_pct(ticks0, cpu_ticks()),
    }


def canary(run: Run) -> None:
    run.canaries.append(canary_ms(run.spark))
