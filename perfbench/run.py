"""parsel_spark benchmark: crawl / extract / dedup workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the workload and prints the end-to-end metrics.
``--trace 1`` runs the workload in a Spark session with an event log and
job-group labels, then the layer probes in ``layers.py``, then the
workload's window again in an untraced session, and prints the
per-layer metrics instead.  The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records
the machine, the seed and ``failed_share``.  See ``perfbench/README.md``.

Load model: one client (this driver process) issuing one Spark action
at a time on ``local[N]``, N = half the cores this process may run on.
Everything the run writes goes to ``.perfbench_work/`` in the repository
root, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pandas as pd
from workloads import descendants

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
END_TO_END = {
    "items_per_s": "1/s",
    "step_p50_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
PLANTS = ("crawl-wave-count", "extract-cell", "dedup-drop-pair")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("crawl", "extract", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # input size multiplier; the benchmark's own tests run at 0.1
    p.add_argument("--scale", type=float, default=1.0)
    # a deliberately wrong output the check must catch (benchmark tests)
    p.add_argument("--plant", choices=PLANTS)
    return p.parse_args(argv)


def machine() -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mem_mb = mem_kb // 1024
    # a quarter of physical RAM, at most 1 GiB: the machine may be shared,
    # the inputs cache a few MB, and a heap the workloads fill keeps the
    # JVM's resident size from drifting with garbage-collector timing
    driver_mb = max(512, min(1024, mem_mb // 4))
    # a Python-UDF task keeps a Python worker and a JVM writer thread busy,
    # and the JIT compiler threads take a core of their own while the JVM
    # warms up: N = cores would run more threads than there are cores
    slots = max(1, cores // 2)
    return {"cores": cores, "slots": slots, "ram_mb": mem_mb, "driver_memory_mb": driver_mb}


def prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``WORK``; let the Python workers import ``parsel_spark``."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "data"):
        os.makedirs(os.path.join(WORK, sub))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # the spark-submit launcher JVM: no /tmp/hsperfdata_<user> file
    os.environ["SPARK_LAUNCHER_OPTS"] = java_options()
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def java_options() -> str:
    """JVM flags keeping the JVM's own files inside ``WORK``."""
    return f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"


def start_session(info: dict, eventlog: bool):
    from pyspark.sql import SparkSession

    slots = info["slots"]
    builder = (
        SparkSession.builder.master(f"local[{slots}]")
        .appName("parsel_spark-perfbench")
        .config("spark.driver.memory", f"{info['driver_memory_mb']}m")
        .config("spark.driver.extraJavaOptions", java_options())
        .config("spark.local.dir", os.path.join(WORK, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(max(slots, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # the builder is shared by every session of this process: set the
    # event log on AND off explicitly
    builder = builder.config("spark.eventLog.enabled", str(eventlog).lower())
    if eventlog:
        builder = (
            builder.config("spark.eventLog.dir", os.path.join(WORK, "eventlog"))
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_workers(spark) -> None:
    """One trivial pandas-UDF job per core: spawns the Python workers."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    n = spark.sparkContext.defaultParallelism
    spark.range(0, 64 * n, numPartitions=n).select(plus_one("id")).write.format(
        "noop"
    ).mode("overwrite").save()


def peak_rss_mb() -> float:
    """Sum of the peak resident sizes (VmHWM) of this process, the driver
    JVM and the Python workers it forked."""
    total_kb = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_session(keep_jvm: bool = False) -> None:
    """Stop the active Spark session, then (unless ``keep_jvm``) the JVM,
    and wait for every process it started.  Safe to call twice."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if keep_jvm or gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def measure(workload, args, span=None) -> dict:
    """The timed window, its throughput / latency and the check."""
    from contextlib import nullcontext

    steps, failed_steps = [], 0
    cpu0 = _cpu_ticks()
    try:
        steps = workload.window(args.seconds, span or nullcontext)
    except Exception:
        failed_steps = 1
        _report("the timed window")
    cpu1 = _cpu_ticks()
    if not steps:
        raise SystemExit(f"{workload.name}: no step completed")
    rss = peak_rss_mb()
    try:
        checks, mismatches = workload.check(args.plant)
    except Exception:
        checks, mismatches = 1, 1
        _report("the correctness check")
    return {
        "step_s": [t for t, _, _ in steps],
        "step_cpu_s": [c for _, c, _ in steps],
        "step_items": [n for _, _, n in steps],
        "items_per_s": sum(n for _, _, n in steps) / sum(t for t, _, _ in steps),
        "step_p50_s": statistics.median(t for t, _, _ in steps),
        "steps": len(steps),
        "peak_rss_mb": rss,
        # share of the window's CPU time the hypervisor gave to other guests
        "steal_share": (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0)),
        "attempted": len(steps) + failed_steps + checks,
        "failed": failed_steps + mismatches,
    }


def _cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def _report(where: str) -> None:
    import traceback

    print(f"perfbench: {where} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


def untraced_run(args, info) -> dict:
    from workloads import WORKLOADS, tree_cpu_s

    c0 = tree_cpu_s()
    t0 = time.perf_counter()
    spark = start_session(info, eventlog=False)
    session_s = time.perf_counter() - t0
    workload = WORKLOADS[args.workload](spark, os.path.join(WORK, "data"), args.seed, args.scale)
    t0 = time.perf_counter()
    warm_workers(spark)
    workers_s = time.perf_counter() - t0
    prepare = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        workload.prepare()
        prepare.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    workload.warm()
    warm_s = time.perf_counter() - t0
    result = measure(workload, args)
    result["setup_s"] = session_s + workers_s + statistics.median(prepare) + warm_s
    result["setup_parts_s"] = {
        "session": session_s,
        "workers": workers_s,
        "prepare": prepare,
        "warm": warm_s,
        "cpu": tree_cpu_s() - c0,
    }
    stop_session()
    return result


def traced_run(args, info) -> tuple[dict, dict, dict]:
    """A Spark session with an event log: the workload under job-group
    labels, then the layer probes.  Then a second session in the same
    JVM without the event log repeats the workload's window, unlabelled,
    for the tracing overhead."""
    import layers
    from workloads import WORKLOADS

    phases: dict[str, float] = {}
    t0 = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t0
        phases[name] = time.perf_counter() - t0
        t0 = time.perf_counter()

    data = os.path.join(WORK, "data")
    spark = start_session(info, eventlog=True)
    spans = layers.Spans(spark.sparkContext)
    wl = {n: cls(spark, data, args.seed, args.scale) for n, cls in WORKLOADS.items()}
    warm_workers(spark)
    wl[args.workload].prepare()
    wl[args.workload].warm()
    phase("setup")
    traced = measure(wl[args.workload], args, spans)
    phase("window_and_check")
    counts = {k: traced[k] for k in ("attempted", "failed")}
    others = [w for name, w in wl.items() if name != args.workload]
    for workload in others:
        workload.prepare()
    phase("prepare_others")
    metrics = layers.probe_selector(wl["extract"])
    phase("probe_selector")
    metrics.update(layers.probe_functions(wl["extract"], spans))
    phase("probe_functions")
    metrics.update(layers.probe_crawl(wl["crawl"], spans))
    phase("probe_crawl")
    metrics.update(layers.probe_dedup(wl["dedup"], spans))
    phase("probe_dedup")
    # the probes ran the other workloads too: check their outputs
    for workload in others:
        checks, mismatches = workload.check(args.plant)
        counts["attempted"] += checks
        counts["failed"] += mismatches
    phase("check_others")
    stop_session(keep_jvm=True)

    # the JVM's generated code is warm now; crawl's window starts its crawl
    spark = start_session(info, eventlog=False)
    workload = WORKLOADS[args.workload](spark, data, args.seed, args.scale)
    warm_workers(spark)
    workload.prepare()
    untraced = workload.window(args.seconds)
    stop_session()
    phase("untraced_repeat")

    log = layers.EventLog(layers.eventlog_file(os.path.join(WORK, "eventlog")))
    metrics.update(layers.from_eventlog(log, spans))
    phase("parse_eventlog")
    untraced_p50 = statistics.median(t for t, _, _ in untraced)
    metrics.update(
        {
            "trace.items_per_s": traced["items_per_s"],
            "trace.step_p50_s": traced["step_p50_s"],
            "trace.untraced_items_per_s": sum(n for _, _, n in untraced)
            / sum(t for t, _, _ in untraced),
            "trace.untraced_step_p50_s": untraced_p50,
            "trace.overhead_share": traced["step_p50_s"] / untraced_p50 - 1.0,
        }
    )
    details = {
        "traced": _details(traced),
        "untraced_steps": len(untraced),
        "phases_s": phases,
    }
    return metrics, counts, details


def _details(result: dict) -> dict:
    keep = ("steps", "step_s", "step_cpu_s", "step_items", "steal_share", "setup_parts_s", *END_TO_END)
    return {k: result[k] for k in keep if k in result}


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import parsel_spark  # noqa: F401
        import pyspark  # noqa: F401

        if args.trace:
            import tools.stage_profile  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    info = machine()
    prepare_environment()
    try:
        if args.trace:
            import layers

            values, counts, details = traced_run(args, info)
            units = layers.PER_LAYER
        else:
            result = untraced_run(args, info)
            values = {k: result[k] for k in END_TO_END}
            counts = {k: result[k] for k in ("attempted", "failed")}
            details = _details(result)
            units = END_TO_END
        missing = set(units) - set(values)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    finally:
        stop_session()
        shutil.rmtree(WORK, ignore_errors=True)
    failed_share = counts["failed"] / counts["attempted"]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        **info,
        "failed_share": {"value": failed_share, "unit": "ratio"},
        "details": details,
    }
    print("perfbench " + json.dumps(context))
    print(
        json.dumps(
            {
                "correct": counts["failed"] == 0,
                "attempted": counts["attempted"],
                "failed": counts["failed"],
                "metrics": {
                    name: {"value": float(values[name]), "unit": unit}
                    for name, unit in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
