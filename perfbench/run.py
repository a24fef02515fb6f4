"""Benchmark entry point.

    python3 perfbench/run.py --workload pages_uniform --seed 1 --seconds 12 --trace 0

Run from the repository root. One run writes the workload's seeded
inputs, starts a local Spark session with one task slot per usable core,
runs untimed warm-up jobs for ``WARMUP_S``, then times jobs in a closed
loop (one job in flight) for ``--seconds`` and at least ``MIN_JOBS``
jobs, checks every job's output and prints one JSON result as the last
line of standard output. ``--trace 1`` instead runs three untimed jobs
and one traced pass, and reports per-layer metrics from spans and from
Spark's event log. Everything the run writes goes under
``.perfbench_work/`` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_JOBS = 5
# untimed jobs run this long before timing starts: the JIT compiler keeps
# speeding jobs up for several jobs after the first
WARMUP_S = 15
JOB_TIMEOUT_S = 60


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_launch(work: str, trace: bool) -> str:
    """Launch configuration for the Spark JVM, set before it starts:
    temporary directories under ``work`` and, for traced runs, the event
    log."""
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the session's 20g default heap exceeds small hosts
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(work, "eventlog")
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    # A fixed heap in transparent huge pages: left to grow, the heap G1
    # settles on differs from run to run, and so does the GC time of every
    # job; first touches of 4 KiB heap pages are slow on virtual machines.
    java = f"-Djava.io.tmpdir={tmp} -Xms{heap} -XX:+UseTransparentHugePages"
    args = [f"--driver-java-options '{java}'"]
    args += [f"--conf {k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])
    return log_dir


def start_session(cores: int):
    from zen3geo_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores,
                      shuffle_partitions=2 * cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark) -> None:
    """Start one Python worker per task slot before anything is timed."""
    n = spark.sparkContext.defaultParallelism
    spark.range(n * 4, numPartitions=n).mapInPandas(lambda it: it, "id long").count()


def stop_session(spark) -> None:
    """Stop Spark, then its JVM, and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    from perfbench.proctree import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while len(tree_pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def window_probe(spark, cores: int) -> float:
    """Pure-JVM xxhash64 sweep: wall seconds for a fixed amount of CPU
    work per core, so a contended window shows as a slower probe."""
    rows = 2_000_000_000 * cores // 32
    t0 = time.monotonic()
    spark.sql(f"select max(xxhash64(id)) from range(0, {rows}, 1, {cores * 8})").collect()
    return time.monotonic() - t0


def release_blocks(spark) -> None:
    """Drop cached tables and every persisted RDD block between jobs."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rdd_id in list(jmap.keys()):
        jmap[rdd_id].unpersist()


def guarded(spark, fn, seconds: float):
    """Run ``fn`` in a job group cancelled after ``seconds``, so a hung
    job raises instead of stalling the run."""
    sc = spark.sparkContext
    group = f"perfbench-{time.monotonic_ns()}"
    sc.setJobGroup(group, "perfbench job", interruptOnCancel=True)
    timer = threading.Timer(seconds, sc.cancelJobGroup, [group])
    timer.start()
    try:
        return fn()
    finally:
        timer.cancel()
        timer.join()
        sc.setLocalProperty("spark.jobGroup.id", None)


def set_up(wl, work: str, cores: int, con):
    """Write the seeded inputs, start the session (JVM launch included)
    and the Python workers. Returns the session and its timings."""
    t0 = time.monotonic()
    wl.dir = os.path.join(work, "inputs")
    wl.generate(con)
    t1 = time.monotonic()
    spark = start_session(cores)
    t2 = time.monotonic()
    spark.sparkContext.setJobDescription("session")
    warm_python_workers(spark)
    spark.sparkContext.setJobDescription(None)
    t3 = time.monotonic()
    return spark, {"inputs_s": t1 - t0, "start_s": t2 - t1, "worker_warm_s": t3 - t2}


def run_job(spark, wl, con, expected, errors: list):
    """One job under the watchdog, its output checked outside the timed
    region. Returns (seconds, CPU seconds of the process tree, result);
    result is None if the job raised, was cancelled or was wrong."""
    from perfbench.proctree import tree_cpu_s

    cpu0 = tree_cpu_s()
    t0 = time.monotonic()
    try:
        result = guarded(spark, lambda: wl.job(spark), JOB_TIMEOUT_S)
    except Exception as e:  # a failed job is counted, the run goes on
        errors.append(f"job raised {type(e).__name__}: {str(e)[:300]}")
        return time.monotonic() - t0, 0.0, None
    dt = time.monotonic() - t0
    cpu = tree_cpu_s() - cpu0
    wrong = wl.check(con, expected, result)
    errors.extend(wrong)
    return dt, cpu, None if wrong else result


def quantile_summary(xs: list[float]) -> dict:
    return {"n": len(xs), "p50": statistics.median(xs), "all": xs}


def timed_run(spark, wl, args, cores, setup, con, expected):
    from perfbench.proctree import engine_pss_mb

    errors: list[str] = []
    t0 = time.monotonic()
    first_job_s = None
    while first_job_s is None or time.monotonic() - t0 < WARMUP_S:
        dt = run_job(spark, wl, con, expected, errors)[0]
        first_job_s = dt if first_job_s is None else first_job_s
        wl.after_job()
        release_blocks(spark)
    window_probe(spark, cores)
    probe_pre = window_probe(spark, cores)
    times, cpus, mems, results, splits = [], [], [], [], []
    attempted = 0
    deadline = time.monotonic() + args.seconds
    while attempted < MIN_JOBS or time.monotonic() < deadline:
        dt, cpu, result = run_job(spark, wl, con, expected, errors)
        attempted += 1
        mems.append(engine_pss_mb())
        if result is not None:
            times.append(dt)
            cpus.append(cpu)
            results.append(result)
            splits.append(getattr(wl, "split", None))
        wl.after_job()
        release_blocks(spark)
    probe_post = window_probe(spark, cores)
    failed = attempted - len(times)
    if results:
        wrong = wl.final_check(con, results)
        errors.extend(wrong)
        if wrong:  # the checked tables span every job of the run
            failed = attempted
    if not times:
        times = cpus = [float("nan")]
    p50 = statistics.median(times)
    setup["first_job_s"] = first_job_s
    metrics = {
        "setup_s": (sum(setup.values()), "s"),
        "job_s_p50": (p50, "s"),
        "rows_per_s": (wl.rows / p50, "1/s"),
        "cpu_s_per_mrow": (statistics.median(cpus) / (wl.rows / 1e6), "s/Mrow"),
        "mem_mb_p50": (statistics.median(mems), "MB"),
    }
    info = {"job_s": quantile_summary(times), "mem_mb": mems,
            "window_probe_s": {"pre": probe_pre, "post": probe_post}}
    if any(splits):
        info["fresh_resume_s_p50"] = [statistics.median(s[i] for s in splits)
                                      for i in (0, 1)]
    return metrics, attempted, failed, errors, info


def traced_run(spark, wl, args, setup, con, expected, log_dir, work):
    from perfbench.trace import Tracer, read_event_log
    from perfbench.workloads import LAYERS, SPAN_LAYERS

    errors: list[str] = []
    times = []
    for _ in range(3):
        dt, _, result = run_job(spark, wl, con, expected, errors)
        wl.after_job()
        release_blocks(spark)
        if result is not None:
            times.append(dt)
    attempted, failed = 3, 3 - len(times)
    job_p50 = statistics.median(times) if times else float("nan")
    tr = Tracer(spark, f"{wl.name}-s{args.seed}-{os.getpid()}")
    try:
        out = guarded(spark, lambda: wl.traced(spark, tr), 3 * JOB_TIMEOUT_S)
        wrong = wl.check(con, expected, out)
    except Exception as e:
        wrong = [f"traced pass raised {type(e).__name__}: {str(e)[:300]}"]
    errors.extend(wrong)
    failed += bool(wrong)
    attempted += 1
    spark.stop()  # flushes the event log
    ev = read_event_log(log_dir)
    metrics = layer_metrics(tr, ev, setup, job_p50, LAYERS, SPAN_LAYERS)
    path = os.path.join(os.path.dirname(work), f"trace-{wl.name}-s{args.seed}.json")
    tr.write(path, {k: v for k, (v, _) in metrics.items()})
    info = {"trace_file": os.path.relpath(path), "job_s": quantile_summary(times)}
    return metrics, attempted, failed, errors, info


def layer_metrics(tr, ev, session, job_p50, layers, span_layers) -> dict:
    """Per-layer metrics of one traced pass. A layer the workload never
    calls reports zero work."""
    from perfbench.trace import LayerStats

    def st(layer):
        return ev.get(layer) or LayerStats()

    c = tr.counts
    geo, sj, ck = st("functions.geo"), st("operators.spatial_join"), st("plans.checkpoint")
    chip, ras = st("operators.chipper"), st("operators.rasterize")
    pages_read = st("sources.pages").sql_sum("size of files read")
    points = geo.sql_sum("number of output rows", "MapInPandas")
    hits, cand = c.get("hits", 0), c.get("candidates", 0)
    ck_bytes = c.get("ckpt_bytes_written", 0)
    m = {
        "session.start_s": (session["start_s"], "s"),
        "session.worker_warm_s": (session["worker_warm_s"], "s"),
        "sources.pages.scan_s": (tr.layer_seconds("sources.pages"), "s"),
        "sources.pages.bytes_read": (pages_read, "B"),
        "sources.raster.scan_s": (tr.layer_seconds("sources.raster"), "s"),
        "functions.geo.extract_s": (tr.layer_seconds("functions.geo", "extract"), "s"),
        "functions.geo.extract_python_s": (
            geo.sql_sum("time to run Python workers", "MapInPandas") / 1e3, "s"),
        "functions.geo.arrow_bytes_to_python": (
            geo.sql_sum("data sent to Python workers", "MapInPandas"), "B"),
        "functions.geo.rows_to_python_per_point": (
            geo.sql_sum("number of output rows", "Filter") / points if points else 0.0,
            "ratio"),
        "functions.geo.cell_encode_s": (
            tr.layer_seconds("functions.geo", "cell_encode"), "s"),
        "operators.spatial_join.hot_cells": (c.get("hot_cells", 0), "count"),
        "operators.spatial_join.hot_cells_s": (
            tr.layer_seconds("operators.spatial_join", "hot_cells"), "s"),
        "operators.spatial_join.cover_rows": (c.get("cover_rows", 0), "count"),
        "operators.spatial_join.candidates": (cand, "count"),
        "operators.spatial_join.hits": (hits, "count"),
        "operators.spatial_join.hit_ratio": (hits / cand if cand else 0.0, "ratio"),
        "operators.spatial_join.refine_s": (
            tr.layer_seconds("operators.spatial_join", "refine"), "s"),
        "operators.spatial_join.refine_arrow_bytes": (
            sj.sql_sum("data sent to Python workers"), "B"),
        "operators.spatial_join.shuffle_write_bytes": (sj.shuffle_write_bytes, "B"),
        "operators.spatial_join.task_skew": (sj.task_skew(), "ratio"),
        "operators.spatial_join.spill_bytes": (sj.spill_bytes, "B"),
        "plans.checkpoint.bytes_written": (ck_bytes, "B"),
        "plans.checkpoint.write_amp": (
            ck_bytes / pages_read if pages_read else 0.0, "ratio"),
        "plans.checkpoint.files_written": (c.get("ckpt_files_written", 0), "count"),
        "operators.chipper.assign_s": (
            tr.layer_seconds("operators.chipper", "assign")
            + tr.layer_seconds("operators.chipper", "assign_labels"), "s"),
        "operators.chipper.fanout": (
            c["chip_rows"] / c["pixel_rows"] if c.get("pixel_rows") else 0.0, "ratio"),
        "operators.chipper.stats_s": (
            tr.layer_seconds("operators.chipper", "stats")
            + tr.layer_seconds("operators.chipper", "join"), "s"),
        "operators.chipper.shuffle_write_bytes": (chip.shuffle_write_bytes, "B"),
        "operators.rasterize.burn_s": (tr.layer_seconds("operators.rasterize"), "s"),
        "operators.rasterize.pixels_burned": (c.get("pixels_burned", 0), "count"),
        "operators.rasterize.python_s": (
            ras.sql_sum("time to run Python workers") / 1e3, "s"),
        "operators.rasterize.task_skew": (ras.task_skew(), "ratio"),
    }
    for stage in ("extract", "cells", "pip", "rollup"):
        m[f"plans.checkpoint.write_s.{stage}"] = (
            tr.layer_seconds("plans.checkpoint", f"write.{stage}"), "s")
        m[f"plans.checkpoint.resume_s.{stage}"] = (
            tr.layer_seconds("plans.checkpoint", f"resume.{stage}"), "s")
    for layer in layers:
        s = st(layer)
        m[f"{layer}.executor_cpu_s"] = (s.executor_cpu_s, "s")
        m[f"{layer}.gc_s"] = (s.gc_s, "s")
        m[f"{layer}.shuffle_read_bytes"] = (s.shuffle_read_bytes, "B")
    for layer in span_layers:
        m[f"{layer}.span_s"] = (tr.layer_seconds(layer), "s")
    span_sum = tr.span_sum()
    m["trace.span_sum_s"] = (span_sum, "s")
    m["trace.job_s_p50"] = (job_p50, "s")
    m["trace.overhead_ratio"] = (span_sum / job_p50 if job_p50 else 0.0, "ratio")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "zen3geo_spark", "__init__.py")):
        print("perfbench: the zen3geo_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS, duck

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cores = usable_cores()
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    log_dir = configure_launch(work, bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, cores)
    spark = con = None
    try:
        con = duck(cores, os.path.join(work, "tmp"))
        spark, setup = set_up(wl, work, cores, con)
        expected = wl.expected(con)
        if args.trace:
            metrics, attempted, failed, errors, info = traced_run(
                spark, wl, args, setup, con, expected, log_dir, work)
        else:
            metrics, attempted, failed, errors, info = timed_run(
                spark, wl, args, cores, setup, con, expected)
    finally:
        if con is not None:
            con.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    info.update({"workload": wl.name, "seed": args.seed, "cores": cores,
                 "sizes": wl.sizes(), "setup_s": setup, "errors": errors[:10]})
    print("perfbench info " + json.dumps(info, default=float))
    result = {
        "correct": not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
