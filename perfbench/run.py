"""Feature-store benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload refresh --seed 1 --seconds 12 --trace 0

Run from the repository root. The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it records the run's configuration, operation times,
problems found and box diagnostics. Exit code 0 means every answer was
right.

See perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cust_sagemaker_feature_store_spark"
WORKLOADS = ("serve", "refresh", "offline")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_cores() -> int:
    """Local cores for Spark: at most 4, never more than this process
    may run on (the engine's own default is 32 threads)."""
    try:
        avail = len(os.sched_getaffinity(0))
    except AttributeError:
        avail = os.cpu_count() or 1
    return max(1, min(4, avail))


def prepare_env(work: str, cores: int) -> None:
    """Fresh local dirs and temp dirs inside the run's work directory;
    set before pyspark starts its JVM."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE!r} not found next to perfbench/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = spark_cores()
    prepare_env(work, cores)
    try:
        return _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, work: str, cores: int) -> int:
    from perfbench import gen, workloads as W
    from perfbench.trace import Tracer, cpu_ticks, event_log_files, parse_event_log

    t_start = time.perf_counter()
    ticks0 = cpu_ticks()
    sizes = gen.SIZES
    # inputs are made before the clock starts: they are the user's data
    hist = gen.history(args.seed, sizes)
    hist_path = os.path.join(work, "input", "history.parquet")
    os.makedirs(os.path.dirname(hist_path))
    hist.to_parquet(hist_path, index=False)
    reg = os.path.join(work, "registry")
    os.makedirs(reg)
    gen.lineitem(args.seed, sizes).to_parquet(os.path.join(reg, "lineitem.parquet"), index=False)
    first_key = int(gen.zipf_keys(gen.rng_for(args.seed, 13), 1, args.seed, sizes)[0])

    traced = bool(args.trace)
    evdir = os.path.join(work, "events")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if traced:
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{evdir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    # -- set-up: session, seeded ingest, materialize, first request ------
    t_setup = time.perf_counter()
    from cust_sagemaker_feature_store_spark import get_spark
    from cust_sagemaker_feature_store_spark.core import feature_store as fs_mod
    from cust_sagemaker_feature_store_spark.core.feature_group import FeatureDefinition, FeatureGroup

    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)
    session_s = time.perf_counter() - t_setup
    proc = spark.sparkContext._gateway.proc
    try:
        tracer = Tracer() if traced else None
        group = FeatureGroup(
            gen.GROUP_NAME, gen.KEY, gen.TIME,
            (FeatureDefinition(gen.KEY, "Integral"), FeatureDefinition(gen.TIME, "String"),
             *(FeatureDefinition(v, "Fractional") for v in gen.VALUES)),
        )
        fs = fs_mod.FeatureStore(spark, os.path.join(work, "store"))
        fs.create_feature_group(group)
        run = W.Run(args.seed, spark, fs, hist, work, sizes, tracer)
        _count_fallbacks(fs_mod.FeatureStore, run)
        if tracer is not None:
            _wrap_engine(tracer)
        fs.ingest(gen.GROUP_NAME, spark.read.parquet(hist_path))
        fs.materialize_online(gen.GROUP_NAME)
        run.do(("get", first_key))
        setup_s = time.perf_counter() - t_setup

        # -- warm-up, measured phase, (traced) panel; canary between ----
        phases = {"pre": t_setup - t_start, "setup": setup_s}
        t = time.perf_counter()
        W.canary(run)
        W.warm_up(run, args.workload, args.seed)
        W.canary(run)
        phases["warm"], t = time.perf_counter() - t, time.perf_counter()
        cycles = W.measure(run, args.workload, args.seed, args.seconds)
        W.canary(run)
        phases["measure"], t = time.perf_counter() - t, time.perf_counter()
        if traced:
            W.panel(run, args.workload)
            phases["panel"], t = time.perf_counter() - t, time.perf_counter()

        # -- end-state checks (untimed) ----------------------------------
        run.check_online_store()
        phases["check"] = time.perf_counter() - t

        metrics = W.end_to_end(run, args.workload, setup_s) if not traced else None
        box = W.box_record(run, ticks0)
    finally:
        if tracer is not None:
            tracer.unwrap()
        _stop_spark(spark, proc)

    if traced:
        lines = []
        for f in event_log_files(evdir):
            with open(f) as fh:
                lines.extend(fh)
        metrics = W.per_layer(run, args.workload, session_s, parse_event_log(lines))
        metrics.update(box)
    units = _units()
    correct = run.failed == 0 and not run.problems
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "spark_master": f"local[{cores}]", "shuffle_partitions": cores,
        "sizes": dataclasses.asdict(sizes), "cycles": cycles,
        "samples_ms": {k: [round(x * 1000, 1) for x in v] for k, v in run.samples.items() if v},
        "box": box, "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "warm_up_ms": {k: [round(x * 1000, 1) for x in v] for k, v in run.warm.items()},
        "problems": run.problems[:5],
        "fallback_ops": run.fallback_ops,
    }
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def _count_fallbacks(cls, run) -> None:
    """Count reads served from the derived latest view instead of the
    materialized snapshot (a stale-snapshot fallback)."""
    orig = cls.latest_view

    def latest_view(self, name):
        run.fallbacks += 1
        return orig(self, name)

    cls.latest_view = latest_view


def _wrap_engine(tracer) -> None:
    import importlib

    from cust_sagemaker_feature_store_spark.core.feature_store import FeatureStore

    for m in ("get_record", "batch_get_record", "ingest", "upsert_online", "materialize_online",
              "history_between", "online_store", "offline_store", "latest_view"):
        tracer.wrap(FeatureStore, m, f"feature_store.{m}")
    mods = {
        "core.online": ("online", ["bucket_expr", "snapshot_exists", "write_snapshot_meta",
                                   "read_snapshot_meta", "upsert_bucketed_snapshot",
                                   "read_snapshot", "read_snapshot_bucket"]),
        "functions.ids": ("ids", ["with_dense_row_ids"]),
        "operators.latest": ("latest", ["latest_snapshot", "latest_snapshot_window"]),
        "operators.asof": ("asof", ["asof_join", "asof_join_agg", "asof_join_union", "asof_join_auto"]),
    }
    for mod, (layer, names) in mods.items():
        tracer.wrap_module(importlib.import_module(f"{PACKAGE}.{mod}"), names, layer, PACKAGE)


def _stop_spark(spark, proc) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a stuck JVM must still be reaped
            proc.kill()
            proc.wait(timeout=30)


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
