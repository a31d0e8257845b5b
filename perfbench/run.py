#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's inputs from ``--seed`` under the run's own
directory, sets up a Spark session, runs the timed phase for about
``--seconds``, checks every output, and prints as its last stdout line
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones in
BENCHMARK.json. ``setup_s`` is this process's cold set-up, from
process start to session ready, plus the workload's warm-up pass, if
it has one.

With ``--trace 1`` the timed phase runs with spans, Spark job groups,
a query execution listener and the event log on, and the metrics are
the per-layer ones, per pass of the workload, plus the tracing
overhead: the traced ``wall_s`` minus the untraced median recorded for
the workload in ``perfbench/BASELINE.json``. Spans and the costliest
operations go to ``perfbench/out/traces/`` for report.py.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "big_data_analysis_of_airline_data_set_spark"
# The inputs are a few MB: a 2 GB driver heap keeps a run small on a
# shared host (the package's default is 8 GB). The heap starts at its
# full size, so resident memory does not depend on when the JVM decides
# to grow it (with a growing heap, peak_rss_mb spread 25% across seeds).
DRIVER_HEAP = "2g"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "op_geomean_s": "s", "peak_rss_mb": "MB",
}
SELF_LAYERS = ("plans", "exec", "streaming", "sources", "stats", "ml", "bench")
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s", "plans.eager_jobs": "count", "plans.build_share": "ratio",
    "catalyst.plan_s": "s",
    "exec.sink_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.cpu_util": "ratio",
    "exec.gc_s": "s", "exec.input_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "streaming.drain_s": "s", "streaming.batches": "count", "streaming.tmp_left_bytes": "bytes",
    "caching.entries": "count",
    "sources.write_s": "s", "sources.bytes_written": "bytes", "sources.files_written": "count",
    "sources.bytes_per_input_byte": "ratio",
    "stats.select_s": "s", "stats.select_jobs": "count",
    "ml.fit_s.logistic_regression": "s", "ml.fit_s.decision_tree": "s",
    "ml.fit_s.naive_bayes": "s", "ml.jobs": "count", "ml.fit_s_per_grid_point": "s",
    **{f"self_s.{layer}": "s" for layer in SELF_LAYERS},
    "trace.wall_s": "s", "trace.overhead_s": "s",
}


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str, cpus: int) -> tuple[str, str]:
    """Give the run its own temp and Spark scratch directories, and let
    Python workers import the package from the checkout root."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return tmp, local


def session_conf(tmp: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            # Spark 4.1 defaults to rolling zstd logs; the stdlib reads
            # neither rolling directories nor zstd
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(ctx, conf: dict[str, str]) -> None:
    from big_data_analysis_of_airline_data_set_spark.session import get_session

    ctx.spark = get_session("perfbench", extra_conf=conf)
    ctx.spark.sparkContext.setLogLevel("ERROR")


def untraced_median(workload: str) -> float | None:
    """Median untraced ``wall_s`` of the workload's first set of runs
    in BASELINE.json, or None when it has none."""
    try:
        with open(os.path.join(HERE, "BASELINE.json")) as f:
            sets = json.load(f)["workloads"][workload]["sets"]
        return sets[0]["metrics"]["wall_s"]["median"]
    except (OSError, KeyError, IndexError, ValueError):
        return None


def stop_jvm(spark) -> None:
    """Stop ``spark``, end the JVM that PySpark launched and wait for
    it and every other process this one started to exit."""
    from pyspark import SparkContext

    from measure import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pids = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:                # Python workers exit once the JVM is gone
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def cache_entries() -> int:
    """Entries held by every module-level ``BoundedCache`` of the package."""
    from big_data_analysis_of_airline_data_set_spark.caching import BoundedCache

    total = 0
    for name, mod in list(sys.modules.items()):
        if name.startswith(PKG) and mod is not None:
            total += sum(len(v) for v in vars(mod).values() if isinstance(v, BoundedCache))
    return total


def layer_metrics(ctx, traced_wall: float, untraced_wall: float | None, root, tmp_left: int,
                  event_log: str, cpus: int, grid_points: dict[str, int]) -> dict[str, float]:
    """Per-layer numbers of the traced phase, each per pass."""
    from spans import parse_event_logs, phase_of, sum_groups

    passes = max(1, len(ctx.pass_walls))
    selfs = ctx.tracer.self_times(root)
    layer_s: dict[str, float] = {}
    fit_s: dict[str, float] = {}
    write_s = 0.0
    for sp in ctx.tracer.spans:
        layer_s[sp.layer] = layer_s.get(sp.layer, 0.0) + sp.duration
        if sp.layer == "sources" and sp.name.startswith("write"):
            write_s += sp.duration
        if sp.layer == "ml":
            fit_s[sp.attrs["family"]] = fit_s.get(sp.attrs["family"], 0.0) + sp.duration
    groups = parse_event_logs(event_log)
    ex = sum_groups(groups, lambda g: phase_of(g) in ("sink", "write"))
    fn = sum_groups(groups, lambda g: phase_of(g) == "fn")
    sel = sum_groups(groups, lambda g: phase_of(g) == "select")
    fit = sum_groups(groups, lambda g: phase_of(g).startswith("fit:"))
    c = ctx.counters
    total_points = sum(grid_points[f] for f in fit_s)
    executing_s = layer_s.get("exec", 0.0) + write_s
    m = {
        "session.start_s": c.get("session.start_s", 0.0),
        "plans.build_s": layer_s.get("plans", 0.0) / passes,
        "plans.eager_jobs": fn["jobs"] / passes,
        "plans.build_share": layer_s.get("plans", 0.0) / root.duration,
        "catalyst.plan_s": c.get("catalyst.plan_s", 0.0) / passes,
        "exec.sink_s": layer_s.get("exec", 0.0) / passes,
        # executor CPU over the core-seconds available while executing
        "exec.cpu_util": ex["executor_cpu_s"] / (executing_s * cpus) if executing_s else 0.0,
        "streaming.drain_s": layer_s.get("streaming", 0.0) / passes,
        "streaming.batches": c.get("streaming.batches", 0.0) / passes,
        "streaming.tmp_left_bytes": float(tmp_left),
        "caching.entries": float(cache_entries()),
        "sources.write_s": write_s / passes,
        "sources.bytes_written": c.get("sources.bytes_written", 0.0) / passes,
        "sources.files_written": c.get("sources.files_written", 0.0) / passes,
        "sources.bytes_per_input_byte": (c["sources.bytes_written"] / c["sources.input_bytes"]
                                         if c.get("sources.input_bytes") else 0.0),
        "stats.select_s": layer_s.get("stats", 0.0) / passes,
        "stats.select_jobs": sel["jobs"] / passes,
        "ml.jobs": fit["jobs"] / passes,
        "ml.fit_s_per_grid_point": sum(fit_s.values()) / total_points if total_points else 0.0,
        "trace.wall_s": traced_wall,
        # 0 when there is no untraced median to compare with
        "trace.overhead_s": traced_wall - untraced_wall if untraced_wall else 0.0,
    }
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{key}"] = ex[key] / passes
    for fam in ("logistic_regression", "decision_tree", "naive_bayes"):
        m[f"ml.fit_s.{fam}"] = fit_s.get(fam, 0.0) / passes
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = selfs.get(layer, 0.0) / passes
    return m


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    if sys.flags.optimize:
        sys.exit("the output checks are assertions; run without -O")
    import measure
    from spans import PlanningListener, Tracer
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    __import__(PKG)                      # exits non-zero when the package is absent
    import pyspark

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(HERE, "out", "runs", run_id)
    tmp, local = isolate(run_dir, cpus)

    ctx = Ctx(seed=args.seed, seconds=args.seconds, data_dir=os.path.join(run_dir, "data"),
              out_dir=os.path.join(run_dir, "work"), tracer=Tracer(False, run_id))
    event_log = os.path.join(run_dir, "eventlog") if args.trace else None
    cpu0 = measure.cpu_times()
    phases: dict[str, float] = {}
    clock = [time.perf_counter()]

    def lap(name: str) -> None:
        now = time.perf_counter()
        phases[name] = phases.get(name, 0.0) + now - clock[0]
        clock[0] = now

    wl.prepare(ctx)
    lap("generate")
    conf = session_conf(tmp, event_log)
    try:
        # interpreter start-up is not seen; imports and the JVM launch are
        start_session(ctx, conf)
        setup = time.perf_counter() - T_PROCESS - phases["generate"]
        if args.trace:
            ctx.planning = PlanningListener(ctx.spark)
        lap("setup")
        rss = measure.RssSampler()
        rss.start()
        if wl.warmup:
            wl.warmup(ctx)
        lap("warmup")
        if args.trace:
            ctx.planning.drain()        # the warm-up's executions
        ctx.tracer.enabled = bool(args.trace)
        with ctx.tracer.span("timed", "bench") as root:
            wl.timed(ctx)
        ctx.tracer.enabled = False
        peak_rss = rss.stop()
        lap("timed")
        wl.check(ctx)
        lap("check")
        grid_points = _grid_points() if args.trace and args.workload == "reference_dag" else {}
    finally:
        if ctx.spark is not None:
            stop_jvm(ctx.spark)
        tmp_left, _ = measure.dir_bytes(tmp)
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(local, ignore_errors=True)
        lap("stop")
    steal = measure.steal_pct(cpu0, measure.cpu_times())
    stamp = measure.host_stamp(ROOT, args.seed, cpus, steal, measure.cpu_calibration_ms(cpus),
                               ctx.data_dir, pyspark.__version__)
    if not ctx.latencies:           # nothing completed: there is no result to print
        for op, reason in ctx.failures:
            print(f"# FAILED {op}: {reason}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    wall = statistics.median(ctx.pass_walls)
    if args.trace:
        ctx.counters["session.start_s"] = setup
        untraced_wall = untraced_median(args.workload)
        metrics = layer_metrics(ctx, wall, untraced_wall, root, tmp_left, event_log,
                                cpus, grid_points)
        _write_trace(ctx, run_id, args, metrics, root, wall, stamp)
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup + phases["warmup"],
            "wall_s": wall,
            # every operation moves a geometric mean by its own relative
            # change, where a median is decided by the middle operation
            "op_geomean_s": statistics.geometric_mean(ctx.latencies),
            "peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    shutil.rmtree(run_dir, ignore_errors=True)
    failed = len(ctx.failures)
    attempted = max(ctx.attempted, 1)
    tail = measure.highest_percentile(ctx.latencies)
    print("# host " + json.dumps(stamp))
    print("# run " + json.dumps({
        "workload": args.workload, "passes": len(ctx.pass_walls), "samples": len(ctx.latencies),
        "op_median_s": statistics.median(ctx.latencies),
        "tail": {f"query_p{tail[0]:g}_s": tail[1]} if tail else None,
        "failed_frac": failed / attempted,
        "streaming_tmp_left_bytes": tmp_left, "phases_s": phases,
    }))
    for op, reason in ctx.failures:
        print(f"# FAILED {op}: {reason}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


def _grid_points() -> dict[str, int]:
    from big_data_analysis_of_airline_data_set_spark.ml.estimators import (
        make_estimator,
        quick_grid,
    )
    from workloads import DAG_FAMILIES

    return {f: len(quick_grid(f, make_estimator(f))) for f in DAG_FAMILIES}


def _write_trace(ctx, run_id, args, metrics, root, traced_wall, stamp) -> None:
    """Spans, self time by layer and the costliest operations of the
    traced phase, for report.py."""
    children: dict[int, list] = {}
    for sp in ctx.tracer.spans:
        children.setdefault(sp.parent, []).append(sp)
    ops = []
    for p in children.get(root.id, []):               # passes / rounds
        for op in children.get(p.id, []):
            if op.layer != "bench":
                continue
            selfs = ctx.tracer.self_times(op)
            selfs.pop("bench", None)
            ops.append({"op": op.name, "query": op.attrs.get("query", op.name),
                        "seconds": op.duration,
                        "dominant_layer": max(selfs, key=selfs.get) if selfs else "bench",
                        "self_s": selfs})
    ops.sort(key=lambda o: -o["seconds"])
    out = os.path.join(HERE, "out", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-s{args.seed}.json"), "w") as f:
        json.dump({
            "workload": args.workload, "seed": args.seed, "run_id": run_id, "host": stamp,
            "passes": len(ctx.pass_walls), "traced_wall_s": traced_wall,
            "self_s": ctx.tracer.self_times(root), "metrics": metrics, "ops": ops,
            "spans": [vars(s) for s in ctx.tracer.spans],
        }, f)


if __name__ == "__main__":
    sys.exit(main())
