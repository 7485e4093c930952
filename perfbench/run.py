#!/usr/bin/env python3
"""Layered benchmark of the retail Spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload <name|all> --seed 1 --seconds 5 --trace 0

Workloads (see ``workloads.py``): ``retail_daily_etl`` and
``query_mix_eager``. One run, in one process, with
``SPARK_GRAFT_CPUS`` set to the CPUs this process may use:

1. writes the seeded inputs under ``.perfbench_work/`` (untimed);
2. set-up: ``session.get_spark`` plus a first job (``setup_s``);
3. warm-up and checks (untimed): the query mix runs every op once and
   compares its output with an independent DuckDB evaluation; the ETL runs
   two passes, checked against DuckDB after timing;
4. timed passes over the ops, in seeded order, until ``--seconds`` have
   passed (at least one pass);
5. prints a record line (environment, inputs, per-op times, problems) and,
   last, one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log (uncompressed, not rolling) and the module wrappers,
reports the per-layer metrics folded from spans and the event log (the
spans themselves go into the record line), then restarts the session
without tracing (event log off), warms it up the same way and times the
same passes again to report the tracing overhead. ``--workload all`` runs
every workload in its own process and prints one table. The work
directory is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "retail_etl_pipeline_spark"

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_ratio": "ratio",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.first_job_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_job_s": "s",
    "queries.plan_s": "s",
    "spark.action_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.cpu_busy_ratio": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.stage_skew": "ratio",
    "spark.failed_tasks": "count",
    "spark.peak_rss_mb": "MB",
    "io.input_mb": "MB",
    "io.output_mb": "MB",
    "io.output_files": "count",
    "io.publish_s": "s",
    "pipeline.readiness_s": "s",
    "pipeline.overhead_s": "s",
    "pipeline.readback_s": "s",
    "operators.reset_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
}


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count). Fewer than eleven samples have no
    such percentile; the maximum (p100) stands in."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0, n
    k = n - 11  # 0-based rank with exactly ten samples above it
    return xs[k], 100.0 * (k + 1) / n, n


def _prepare_env(work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # Spark's Python workers import the package too, from any cwd
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    # a run writes only under its work directory: Spark's scratch space
    # too, instead of the session's /dev/shm default
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def _session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    else:
        # explicit: a session restarted in the traced run's JVM would
        # otherwise inherit the event log from its system properties
        conf["spark.eventLog.enabled"] = "false"
    return conf


def _start(ctx, name: str, conf: dict) -> float:
    """``get_spark`` plus the first job; returns their seconds."""
    from retail_etl_pipeline_spark import session

    ctx.tracer.op = "setup"
    t0 = time.perf_counter()
    with ctx.tracer.span("session.start"):
        ctx.spark = session.get_spark(app_name=f"perfbench-{name}", extra_conf=conf)
    ctx.phase("setup", "first_job")
    with ctx.tracer.span("session.first_job"):
        ctx.spark.range(1_000_000).selectExpr("sum(id)").collect()
    return time.perf_counter() - t0


def _stop_jvm(spark) -> None:
    """Stop the session and the driver JVM it launched, and wait for them
    and the Python workers to exit."""
    from pyspark import SparkContext

    import spans

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    # the PySpark daemon and its workers exit once the JVM is gone
    deadline = time.monotonic() + 30
    while spans.descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _measure(ctx, wl, seconds: float, tag: str):
    """Timed passes until ``seconds`` have passed; returns (pass walls,
    op latencies by op name, failed op ids, op ids)."""
    walls: list[float] = []
    lat: dict[str, list[float]] = {}
    failed: list[str] = []
    op_ids: set[str] = set()
    start = time.perf_counter()
    k = 0
    while True:
        p0 = time.perf_counter()
        for op in wl.ops():
            op_id = f"{op}#{tag}{k}"
            ctx.tracer.op = op_id
            op_ids.add(op_id)
            try:
                ok, seconds_op = wl.run_op(ctx, op, op_id)
            except Exception:  # noqa: BLE001 -- counted, run goes on
                traceback.print_exc()
                ok = False
            if ok:
                lat.setdefault(op, []).append(seconds_op)
            else:
                failed.append(op_id)
        walls.append(time.perf_counter() - p0)
        k += 1
        if time.perf_counter() - start >= seconds:
            return walls, lat, failed, op_ids


def _environment(spark, cpus: int, seed: int) -> dict:
    import duckdb
    import pyspark

    conf = spark.sparkContext.getConf()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "host_cpus": os.cpu_count(),
        "cpus_used": cpus,
        "spark.master": spark.sparkContext.master,
        "spark.driver.memory": conf.get("spark.driver.memory", "1g"),
        "spark.local.dir": conf.get("spark.local.dir", None),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize"
        ),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "seed": seed,
    }


def _layer_metrics(tracer, groups, op_ids, passes, cores) -> dict[str, float]:
    """Fold the traced passes' spans and event-log groups into per-pass
    per-layer numbers."""
    import eventlog

    spans = tracer.totals(op_ids)
    setup = tracer.totals({"setup"})
    mine = {
        gid: g for gid, g in groups.items()
        if gid.count("/") == 2 and gid.split("/")[1] in op_ids
    }
    build = eventlog.merge(g for gid, g in mine.items() if gid.endswith("/build"))
    other = eventlog.merge(g for gid, g in mine.items() if not gid.endswith("/build"))
    every = eventlog.merge([build, other])
    n = float(passes)
    build_job_s = build.job_seconds()
    action_s = other.job_seconds()
    mb = eventlog.MB
    return {
        "session.start_s": setup["session.start"],
        "session.first_job_s": setup["session.first_job"],
        "queries.build_s": spans["queries.build"] / n,
        "queries.build_jobs": build.jobs / n,
        "queries.build_job_s": build_job_s / n,
        "queries.plan_s": max(0.0, spans["queries.build"] - build_job_s) / n,
        "spark.action_s": action_s / n,
        "spark.jobs": every.jobs / n,
        "spark.tasks": every.tasks / n,
        "spark.task_run_s": every.task_run_ms / 1e3 / n,
        "spark.task_cpu_s": every.task_cpu_ns / 1e9 / n,
        "spark.cpu_busy_ratio": (
            every.task_run_ms / 1e3 / ((build_job_s + action_s) * cores)
            if build_job_s + action_s > 0 else 0.0
        ),
        "spark.gc_s": every.gc_ms / 1e3 / n,
        "spark.shuffle_write_mb": every.shuffle_write_bytes / mb / n,
        "spark.shuffle_read_mb": every.shuffle_read_bytes / mb / n,
        "spark.spill_mb": every.disk_spill_bytes / mb / n,
        "spark.stage_skew": every.stage_skew(),
        "spark.failed_tasks": every.failed_tasks / n,
        "io.input_mb": every.input_bytes / mb / n,
        "io.output_mb": every.output_bytes / mb / n,
        "io.output_files": spans["io.output_files"] / n,
        "io.publish_s": spans["io.publish"] / n,
        "pipeline.readiness_s": spans["pipeline.readiness"] / n,
        "pipeline.overhead_s": max(0.0, spans["pipeline.run"] - spans["io.publish"]) / n,
        "pipeline.readback_s": spans["pipeline.readback"] / n,
        "operators.reset_s": spans["operators.reset"] / n,
    }


def run_workload(name: str, seed: int, seconds: float, traced: bool) -> dict:
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(name, seed, seconds, traced, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(name: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    cpus = _prepare_env(work)
    import eventlog
    import spans as tr
    import workloads

    wl = workloads.make(name)
    marks = {"start": time.perf_counter()}
    inputs = wl.prepare(work, seed)
    marks["prepared"] = time.perf_counter()
    event_dir = os.path.join(work, "eventlog") if traced else None
    if event_dir:
        os.makedirs(event_dir)

    ctx = workloads.Ctx(name, None, tr.Tracer(), traced)
    if traced:
        from retail_etl_pipeline_spark import io as eio
        from retail_etl_pipeline_spark import pipeline

        ctx.tracer.wrap(pipeline, "readiness_check", "pipeline.readiness")
        ctx.tracer.wrap(
            eio, "write_run_partition", "io.publish",
            enter=lambda: ctx.phase(ctx.tracer.op, "publish"),
            leave=lambda: ctx.phase(ctx.tracer.op, "pipeline"),
        )
    rss = tr.RssSampler()
    rss.start()
    try:
        setup_s = _start(ctx, name, _session_conf(work, event_dir))
        env = _environment(ctx.spark, cpus, seed)
        marks["set_up"] = time.perf_counter()
        problems = wl.check(ctx)
        marks["checked"] = time.perf_counter()
        walls, lat, failed, op_ids = _measure(ctx, wl, seconds, "t" if traced else "")
        marks["measured"] = time.perf_counter()
        problems.update(wl.finish(ctx))
        marks["finished"] = time.perf_counter()
        peak_rss = rss.peak
        layers = {}
        spans_out = None
        attempted_extra = 0
        if traced:
            ctx.tracer.unwrap()
            ctx.spark.stop()  # closes the event log
            logs = sorted(os.listdir(event_dir))
            groups = eventlog.parse_event_log(os.path.join(event_dir, logs[0]))
            layers = _layer_metrics(ctx.tracer, groups, op_ids, len(walls), cpus)
            spans_out = [
                {"layer": layer, "op": op, "parent": parent,
                 "start_s": t0 - marks["start"], "end_s": t1 - marks["start"]}
                for layer, t0, t1, op, parent in ctx.tracer.spans
            ]
            # the same passes again, tracing off, for the overhead: a new
            # session, the same warm-up, then timed passes
            ctx.tracer = tr.Tracer()
            _start(ctx, name, _session_conf(work, None))
            for key, found in wl.check(ctx).items():
                problems[f"untraced:{key}"] = found
            plain, _, plain_failed, plain_ids = _measure(ctx, wl, seconds, "u")
            failed += plain_failed
            attempted_extra = len(plain_ids)
            if sorted(os.listdir(event_dir)) != logs:
                problems["trace.untraced_rerun"] = ["event log written while untraced"]
            layers["spark.peak_rss_mb"] = peak_rss / float(1 << 20)
            layers["trace.wall_s"] = statistics.median(walls)
            layers["trace.overhead_s"] = statistics.median(walls) - statistics.median(plain)
        _stop_jvm(ctx.spark)
        marks["stopped"] = time.perf_counter()
    finally:
        rss.stop()

    bad_checks = sorted(k for k, v in problems.items() if v)
    attempted = len(problems) + len(op_ids) + attempted_extra
    n_failed = len(bad_checks) + len(failed)
    all_lat = [x for xs in lat.values() for x in xs]
    tail_v, tail_p, n_lat = tail(all_lat) if all_lat else (math.nan, 0.0, 0)
    if traced:
        metrics = layers
        units = PER_LAYER_UNITS
    else:
        metrics = {
            "setup_s": setup_s,
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(all_lat) if all_lat else math.nan,
            "op_tail_s": tail_v,
            "ok_ratio": 1.0 - n_failed / attempted,
        }
        units = END_TO_END_UNITS
    record = {
        "workload": name,
        "traced": traced,
        "environment": env,
        "inputs": inputs,
        "phase_end_s": {k: round(v - marks["start"], 3) for k, v in marks.items()},
        "passes": len(walls),
        "pass_walls_s": walls,
        "op_tail": {"percentile": tail_p, "samples": n_lat},
        "op_median_s": {k: statistics.median(v) for k, v in lat.items()},
        "peak_rss_mb": peak_rss / float(1 << 20),
        "failed_ratio": n_failed / attempted,
        "failed_ops": failed,
        "problems": {k: problems[k] for k in bad_checks},
    }
    if spans_out is not None:
        record["spans"] = spans_out
    return {
        "record": record,
        "result": {
            "correct": n_failed == 0,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": {
                k: {"value": metrics[k], "unit": units[k]} for k in units
            },
        },
    }


def _run_all(args) -> int:
    import workloads

    rows = []
    rc = 0
    for name in workloads.WORKLOADS:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}", file=sys.stderr)
            rc = 1
            continue
        res = json.loads(lines[-1])
        print(lines[-2] if len(lines) > 1 else "", flush=True)
        for metric, v in res["metrics"].items():
            rows.append((name, metric, v["value"], v["unit"]))
        rows.append((name, "failed_ratio", res["failed"] / res["attempted"], "ratio"))
        rows.append((name, "correct", res["correct"], ""))
    for name, metric, value, unit in rows:
        shown = f"{value:.4f}" if isinstance(value, float) else str(value)
        print(f"{name:26s} {metric:24s} {shown:>12s} {unit}")
    return rc


def main(argv: list[str] | None = None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*workloads.WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be a non-negative integer")
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(
            f"perfbench: package {PACKAGE!r} not found under {ROOT}; run from "
            "a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return _run_all(args)
    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out["record"]), flush=True)
    print(json.dumps(out["result"]), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
