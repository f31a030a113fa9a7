"""Benchmark entry point.

    python3 quakebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one closed-loop, single-client workload (see ``BENCHMARK.json``
for the list and why each was chosen) on ``local[4]`` from the root
of a checkout, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, from the benchmark's own spans and Spark's event log.

Everything the run writes stays under ``.quakebench_work/`` in the
checkout; the per-run record (steadiness, exact counts, spans, per job
group Spark counters) is kept in ``.quakebench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".quakebench_work")
CPUS = 4
DRIVER_MEM = "3g"
# Spark counters reported per layer, from the job group each span sets
SINK_LAYERS = ("sinks.save", "sinks.read", "sinks.upsert")
SPARK_LAYERS = ("geojson", *SINK_LAYERS, "silver", "plans")


def process_age_s() -> float:
    """Seconds since this process started, interpreter start included."""
    with open("/proc/self/stat") as fh:
        started = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - started / os.sysconf("SC_CLK_TCK")


def proc_sample() -> dict:
    """1-minute load and the cumulative CPU steal and total ticks."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return {"load1": load1, "steal": ticks[7], "total": sum(ticks[:8])}


# HotSpot's JIT compiler threads keep compiling for minutes after
# warm-up, on otherwise idle cores; their CPU varies from run to run
# and is left out of an operation's CPU cost.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def cpu_ticks(pid: int) -> dict:
    """CPU ticks (user + system) per thread of ``pid`` and every live
    descendant, JIT compiler threads excepted, plus each process's
    reaped children: the JVM, its Python workers and their forks."""
    ticks, todo = {}, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:  # the process exited
            continue
        ticks[(p, "reaped")] = int(fields[13]) + int(fields[14])
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/stat") as fh:
                    comm, rest = fh.read().rsplit(")", 1)
                if not comm.split("(", 1)[1].startswith(JIT_THREADS):
                    f = rest.split()
                    ticks[(p, tid)] = int(f[11]) + int(f[12])
                with open(f"/proc/{p}/task/{tid}/children") as fh:
                    todo += [int(c) for c in fh.read().split()]
            except (FileNotFoundError, ProcessLookupError):  # the thread exited
                continue
    return ticks


def cpu_s_between(start: dict, end: dict) -> float:
    """CPU seconds spent between two snapshots; threads that exited in
    between are lost, threads that started count in full."""
    return sum(v - start.get(k, 0) for k, v in end.items()) / os.sysconf("SC_CLK_TCK")


def steadiness(start: dict, end: dict) -> dict:
    total = end["total"] - start["total"]
    return {
        "load1_start": start["load1"],
        "load1_end": end["load1"],
        "steal_share": (end["steal"] - start["steal"]) / total if total else 0.0,
    }


def prepare_env(work: str, trace: bool) -> None:
    """Keep every file Spark and Python write inside the run's work
    dir, and fix the core count and driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = os.path.join(work, "scratch")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # without -XX:-UsePerfData each JVM writes /tmp/hsperfdata_<user>
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--driver-memory", DRIVER_MEM,
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def heap_live_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    started = time.perf_counter() - process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    stamp = datetime.now(timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(WORK_ROOT, "runs", run_id)
    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    prepare_env(work, bool(args.trace))
    sys.path.insert(0, ROOT)
    try:
        line, record = measure(args, wanted, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(results, f"{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for e in record["errors"]:
        print(f"check failed: {e}", file=sys.stderr)
    print(json.dumps(line))
    return 0


def measure(args, wanted: list[dict], work: str, started: float) -> tuple[dict, dict]:
    """Set up, run the timed operations, check; returns the result line
    and the run record. ``started`` is the process start on the
    ``time.perf_counter`` clock."""
    proc_start = proc_sample()

    from pyspark import SparkContext

    from usgs_earthquake_data_pipeline_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app_name=f"quakebench-{args.workload}")
    session_start_s = time.perf_counter() - t
    try:
        if args.workload == "etl_backfill":
            from quakebench.etl_backfill import EtlBackfill as Workload
        else:
            from quakebench.catalog_headline import CatalogHeadline as Workload
        w = Workload(spark, os.path.join(work, "data"), args.seed)
        w.setup()
        setup_s = time.perf_counter() - started

        tracer = None
        if args.trace:
            from quakebench.trace import Tracer

            tracer = Tracer(spark.sparkContext)
            w.trace(tracer)
        sc = spark.sparkContext
        sc.setJobGroup("timed", "timed operations")
        jvm_pid = SparkContext._gateway.proc.pid
        op_s: list[float] = []
        cpu_s: list[float] = []
        items = 0
        failed_ops = 0
        t_loop = time.perf_counter()
        for i in range(w.max_ops):
            t = time.perf_counter()
            c0, p0 = cpu_ticks(jvm_pid), time.process_time()
            try:
                if tracer:
                    with tracer.span("op", desc=f"op {i}"):
                        items += w.op(i)
                else:
                    items += w.op(i)
            except Exception as exc:  # a failed operation is counted, not fatal
                print(f"op {i} failed: {exc!r}", file=sys.stderr)
                failed_ops += 1
            op_s.append(time.perf_counter() - t)
            cpu_s.append(cpu_s_between(c0, cpu_ticks(jvm_pid)) + time.process_time() - p0)
            elapsed = time.perf_counter() - t_loop
            if elapsed + statistics.mean(op_s) / 2 >= args.seconds:
                break
        # spans relabel the jobs of a traced run; its event log counts them
        timed_jobs = None if tracer else len(sc.statusTracker().getJobIdsForGroup("timed"))
        sc.setJobGroup("bench", "bench")

        layer = {}
        if tracer:
            layer = w.layer_metrics(tracer)
            tracer.restore()
            t = time.perf_counter()
            w.op(len(op_s))  # one untraced operation, for the tracing overhead
            untraced_s = time.perf_counter() - t
            layer["trace.overhead_s"] = statistics.median(op_s) - untraced_s
            layer["session.start_s"] = session_start_s
            layer["session.heap_live_mb"] = heap_live_mb(spark)

        errors = w.check()
        counts = w.counts()
    finally:
        stop_spark(spark)

    failed = failed_ops + (1 if errors else 0)
    attempted = len(op_s)
    record = {
        "workload": args.workload,
        "items": w.items,
        "seed": args.seed,
        "trace": args.trace,
        "steadiness": steadiness(proc_start, proc_sample()),
        "phases": {"session_s": session_start_s, **w.phases, "setup_s": setup_s},
        "counts": {**counts, "timed_ops": attempted, "timed_jobs": timed_jobs},
        "op_s": op_s,
        "op_cpu_s": cpu_s,
        "items_per_s": items / sum(op_s),
        "errors": errors,
    }
    if tracer:
        from quakebench.trace import read_event_log

        groups, by_desc = read_event_log(os.path.join(work, "eventlog"))
        for g in SPARK_LAYERS:
            for k in ("jobs", "tasks", "cpu_s", "gc_s", "spill_mb"):
                layer[f"{g}.{k}"] = groups.get(g, {}).get(k, 0.0)
        silver = groups.get("silver", {})
        layer["silver.input_mb"] = silver.get("input_mb", 0.0)
        layer["silver.shuffle_mb"] = silver.get("shuffle_mb", 0.0)
        sink_jobs = sum(groups.get(g, {}).get("jobs", 0) for g in SINK_LAYERS)
        pages = layer.get("pipeline.pages", 0)
        layer["sinks.jobs_per_page"] = sink_jobs / pages if pages else 0.0
        record["spark_groups"] = groups
        record["spark_by_description"] = by_desc
        record["spans"] = tracer.spans
        values = layer
    else:
        values = {
            "setup_s": setup_s,
            "op_cpu_s": statistics.median(cpu_s),
            "jobs_per_op": timed_jobs / attempted,
        }
    metrics = {}
    for m in wanted:
        v = float(values.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": v if math.isfinite(v) else 0.0, "unit": m["unit"]}
    record["metrics"] = metrics
    line = {
        "correct": not errors and failed_ops == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return line, record


if __name__ == "__main__":
    sys.exit(main())
