#!/usr/bin/env python3
"""The repo benchmark: one workload per run, closed loop, one job at a
time, from a single process at local[4], every output checked.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

A run makes its input from ``--seed`` (perfbench/prepare.py, in its own
process, which also computes the DuckDB oracle), starts a Spark session
with the engine's defaults, runs the cold pass and the workload's warm
passes (together: ``setup_s``), then times jobs for ``--seconds``. The
gate is the median CPU time of a timed job's tasks (``task_cpu_s_p50``,
see perfbench.procs.TaskCpu) beside ``setup_s``. ``--trace 1`` instead
runs whole jobs untraced and under a span, then each layer in a span of
its own, and reads the spans' metrics from Spark's event log. The last
line of stdout is one JSON object,
``{"correct", "attempted", "failed", "metrics"}``, holding the gated
metrics (or, traced, the per-layer ones); the lines above it are the
human-readable report: box stamp, input, and every metric, gated or
not, with its unit. Spark's own log goes to a file, not to the output.

Every file a run writes is under ``.perfbench/`` in the checkout and is
removed at exit, apart from ``.perfbench/last-<workload>.log``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
MASTER = f"local[{CORES}]"
#: a timed run always measures at least this many jobs
MIN_JOBS = 1


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat: on
    a shared VM, time stolen by other guests slows every job."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def box_stamp(probe) -> dict:
    import duckdb
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(ln for ln in fh if ln.startswith("MemTotal")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2 ** 20, 1),
            "mem_gbps_before": round(probe(), 2),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__}


def start_spark(work: str, workload: str, trace: bool):
    """A session with the engine's own defaults (``get_spark``), plus
    only where files go and, when tracing, the event log."""
    from gdal_spark.session import get_spark
    from perfbench.procs import output_to

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        ev = os.path.join(work, "eventlog")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + ev,
                     "spark.eventLog.compress": "false"})
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench", f"last-{workload}.log")
    open(log, "w").close()
    with output_to(log):
        return get_spark(app=f"perfbench-{workload}", master=MASTER,
                         extra_conf=conf)


class Runner:
    """Runs and checks jobs, counting attempts and failures."""

    def __init__(self, ctx, workload, task_cpu):
        self.ctx, self.w, self.task_cpu = ctx, workload, task_cpu
        self.attempted = self.failed = 0
        self.checks: list[dict] = []

    def job(self, span=None) -> tuple[float, float, float] | None:
        """One job; its (wall, process-tree CPU, task CPU) seconds, or
        None if it raised. A job whose output differs from the oracle
        still ran: it counts as failed and keeps its times."""
        import contextlib

        from perfbench.procs import tree_cpu_s

        self.attempted += 1
        try:
            self.task_cpu.take()  # not this job's: the last check's reads
            c0, t0 = tree_cpu_s(), time.monotonic()
            with span or contextlib.nullcontext():
                out = self.w.job(self.ctx)
            wall, cpu = time.monotonic() - t0, tree_cpu_s() - c0
            dt = (wall, cpu, self.task_cpu.take())
            res = self.w.check(self.ctx, out)
        except Exception:  # a failed job is counted, and the run goes on
            traceback.print_exc()
            self.failed += 1
            return None
        if not res["ok"]:
            print(f"job {self.attempted}: output differs from the oracle",
                  file=sys.stderr)
            self.failed += 1
        self.checks.append(res)
        return dt


def timed(runner: Runner, seconds: float) -> list[tuple[float, float, float]]:
    """Jobs for ``seconds``: no job starts that the last one's time says
    would end after them, so a run's length does not depend on where a
    job falls across the deadline."""
    times, n, last = [], 0, 0.0
    deadline = time.monotonic() + seconds
    while n < MIN_JOBS or time.monotonic() + last < deadline:
        n += 1
        t0 = time.monotonic()
        dt = runner.job()
        last = time.monotonic() - t0
        if dt is not None:
            times.append(dt)
    return times


def traced(runner: Runner, tracer) -> tuple[list, list, dict]:
    """Whole jobs untraced, traced, traced, untraced, so the warm-up
    still going on favours neither side; then the layer spans."""
    plain = [runner.job()]
    spanned = [runner.job(tracer.span(f"job.{i}")) for i in range(2)]
    plain.append(runner.job())
    layers = runner.w.layers(runner.ctx, tracer)
    return plain, spanned, layers


def layer_metrics(ev_dir: str, tracer, layers: dict, plain, spanned,
                  pages: int) -> dict:
    from perfbench.eventlog import EventLog
    from perfbench.layers import PER_LAYER

    log = EventLog(ev_dir)
    m = {name: 0 for name, *_ in PER_LAYER}
    m.update(layers)
    m["session.start_s"] = tracer.wall["session"]

    job = log.span("job.0")
    wall = tracer.wall["job.0"]
    m.update({
        "job.spark_jobs": job.spark_jobs, "job.tasks": job.tasks,
        "job.scan_passes": job.input_records / pages,
        "job.core_s": job.core_s, "job.cpu_s": job.cpu_s, "job.gc_s": job.gc_s,
        "job.utilization": job.core_s / (CORES * wall),
        "job.shuffle_write_bytes": job.shuffle_write_bytes,
        "job.spill_bytes": job.spill_bytes, "job.task_skew": job.task_skew,
        "job.task_failures": sum(log.span(f"job.{i}").task_failures
                                 for i in range(len(spanned))),
    })
    if all(plain) and all(spanned):
        m["job.trace_overhead"] = (statistics.median(t for t, *_ in spanned)
                                   / statistics.median(t for t, *_ in plain) - 1)

    for name in ("queries.points_df", "spatial_join.pip_join",
                 "tiling.tile_counts", "tiling.pyramid"):
        if name in tracer.wall:
            m[f"{name}.wall_s"] = tracer.wall[name]
            m[f"{name}.core_s"] = log.span(name).core_s
    if "spatial_join.pip_join" in tracer.wall:
        pip = log.span("spatial_join.pip_join")
        cand = pip.sql_metric("BroadcastHashJoin", "number of output rows")
        refine = pip.sql_metric("ArrowEvalPython", "number of output rows")
        m["spatial_join.pip_join.candidates"] = cand
        m["spatial_join.pip_join.refine_rows"] = refine
        m["spatial_join.pip_join.python_s"] = pip.sql_metric(
            "ArrowEvalPython", "time to run Python workers")
        m["spatial_join.pip_join.task_skew"] = pip.task_skew
        # rows that skip the refine (full cells) are accepted as they come
        accepted = m["spatial_join.pip_join.hits"] - (cand - refine)
        m["spatial_join.pip_join.refine_accept_ratio"] = (
            accepted / refine if refine else 0.0)
    if "tiling.tile_counts" in tracer.wall:
        m["tiling.tile_counts.shuffle_write_bytes"] = log.span(
            "tiling.tile_counts").shuffle_write_bytes
    if "tiling.pyramid" in tracer.wall:
        pyr = log.span("tiling.pyramid")
        m["tiling.pyramid.spark_jobs"] = pyr.spark_jobs
        m["tiling.pyramid.stages"] = pyr.stages
        m["tiling.pyramid.shuffle_write_bytes"] = pyr.shuffle_write_bytes
    if "checkpoint.resume" in tracer.wall:
        for stage in ("geocoded", "tile_base", "tile_pyramid"):
            name = f"checkpoint.run_stage.{stage}"
            s = log.span(name)
            m[f"{name}.wall_s"] = tracer.wall[name]
            m[f"{name}.bytes_written"] = s.output_bytes
            m[f"{name}.spark_jobs"] = s.spark_jobs
            for k in ("wall_s", "bytes_written", "files_written", "spark_jobs"):
                m[f"checkpoint.run_stage.{k}"] += m[f"{name}.{k}"]
        m["checkpoint.resume.wall_s"] = tracer.wall["checkpoint.resume"]
    return m


def run(args, work: str) -> tuple[dict, list[str]]:
    """One benchmark run; returns the result object and report lines."""
    import numpy as np

    from perfbench.layers import END_TO_END, PER_LAYER, REPORTED
    from perfbench.procs import PeakRss, TaskCpu, stop_spark
    from perfbench.workloads import WORKLOADS, Ctx, Tracer
    from tools.memprobe import probe_gbps

    # every temporary file of this process and its children stays in
    # ``work`` (the JVMs' perf-data files too); the Python workers Spark
    # forks import the engine from the checkout
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["_JAVA_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    w = WORKLOADS[args.workload]
    box = box_stamp(probe_gbps)
    prep = os.path.join(work, "prep")
    subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "prepare.py"),
                    "--workload", w.name, "--seed", str(args.seed),
                    "--out", prep] + (["--pages", str(args.pages)]
                                      if args.pages else []),
                   check=True, cwd=ROOT, stdout=sys.stderr, timeout=600)
    with open(os.path.join(prep, "stats.json")) as fh:
        stats = json.load(fh)
    expected = dict(np.load(os.path.join(prep, "expected.npz")))
    pages = stats["pages"]

    steal0 = cpu_ticks()
    with PeakRss() as rss:
        t0 = time.monotonic()
        spark = start_spark(work, w.name, args.trace)
        session_s = time.monotonic() - t0
        try:
            ctx = Ctx(spark, os.path.join(prep, "input"),
                      os.path.join(work, "out"), expected, pages)
            runner = Runner(ctx, w, TaskCpu(spark))
            for _ in range(1 + w.warm_passes):  # the first is the cold pass
                runner.job()
            setup_s = time.monotonic() - t0
            if args.trace:
                tracer = Tracer(spark)
                tracer.wall["session"] = session_s
                plain, spanned, layers = traced(runner, tracer)
            else:
                times = timed(runner, args.seconds)
        finally:
            stop_spark(spark)
    steal1 = cpu_ticks()
    box["cpu_steal"] = round((steal1[0] - steal0[0])
                             / max(1, steal1[1] - steal0[1]), 4)
    box["mem_gbps_after"] = round(probe_gbps(), 2)

    report = [f"perfbench workload={w.name} seed={args.seed} "
              f"trace={int(args.trace)} master={MASTER}",
              "box " + json.dumps(box),
              "input " + json.dumps(stats)]
    if args.trace:
        m = layer_metrics(os.path.join(work, "eventlog"), tracer, layers,
                          plain, spanned, pages)
        units = {name: unit for name, unit, *_ in PER_LAYER}
    else:
        if not times:
            raise RuntimeError("every timed job raised")
        m = {"task_cpu_s_p50": statistics.median(k for *_, k in times),
             "setup_s": setup_s}
        units = {name: unit for name, unit, _ in END_TO_END}
        report.append(f"jobs timed={len(times)} wall_s,cpu_s,task_cpu_s="
                      + json.dumps([[round(x, 3) for x in dt] for dt in times]))
    metrics = {k: {"value": m[k], "unit": units[k]} for k in units}
    shown = {k: (v["value"], v["unit"]) for k, v in metrics.items()}
    if not args.trace:
        p50 = statistics.median(t for t, *_ in times)
        extra = {"pages_per_s": pages / p50, "job_s_p50": p50,
                 "job_cpu_s_p50": statistics.median(c for _, c, _ in times),
                 "peak_rss_mb": rss.peak_mb}
        extra.update({k: statistics.median(c[k] for c in runner.checks)
                      for k in w.report})
        shown.update({n: (extra[n], u) for n, u, _ in REPORTED if n in extra})
    shown["failed_ratio"] = (runner.failed / runner.attempted, "ratio")
    for k, (v, unit) in shown.items():
        report.append(f"{k:44s} {v:>16.6g} {unit}")
    result = {"correct": runner.failed == 0, "attempted": runner.attempted,
              "failed": runner.failed, "metrics": metrics}
    return result, report


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="input rows (default: the workload's size)")
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import gdal_spark
        from perfbench.workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(gdal_spark.__file__))) != ROOT:
        print(f"perfbench: no engine source under {ROOT} (found "
              f"{gdal_spark.__file__})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in report:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
