#!/usr/bin/env python3
"""Benchmark of record for the JIRA→git CDC sync.

Run from the repository root:

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One run builds its inputs from ``--seed``, measures for ``--seconds``, checks
every output against an independent oracle and prints the metrics, each with
its unit; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics from spans around the
program's public calls. Everything a run writes lives under
``.perfbench/run-*`` in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

#: Driver JVM heap, fixed (-Xms = -Xmx) so that peak RSS does not depend on
#: when the collector decides to grow the heap. local[N] runs executors in
#: the driver, so this is the whole Spark heap; 3g holds the 148k-issue
#: preload with room to spare.
DRIVER_MEM = "3g"

HERE = os.path.dirname(os.path.abspath(__file__))


def metric_units(root: str, section: str) -> dict[str, str]:
    """Metric name → unit for ``end_to_end`` or ``per_layer``, as declared in
    BENCHMARK.json (the single list of what a run reports)."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user nice system idle iowait irq
    softirq steal ...); empty where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between (%):
    host noise that no change to the program can move."""
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / sum(d), 2) if len(d) > 7 and sum(d) else 0.0


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_cpus() -> int:
    """Spark task slots: half the visible CPUs. The other half runs what a
    batch also needs at the same time (JVM GC and JIT threads, the Python
    driver, Spark's Python workers, git fast-import, the feed generator), so
    that a run does not measure the guest's scheduler. On 4 CPUs, 2 slots
    gave a lower freshness lag than 4, and than 1, in each of 4 interleaved
    cdc_trickle pairs."""
    return max(1, cpu_count() // 2)


def prepare_env(root: str, run_dir: str) -> None:
    """Process environment for the driver JVM and Spark's Python workers:
    workers import the package from the repo root, Spark sizes itself to the
    visible CPUs, and every temp file lands under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    env["SPARK_GRAFT_CPUS"] = str(spark_cpus())
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    env["TMPDIR"] = tmp
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata, temp
    # files under run_dir
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    env["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {DRIVER_MEM} --driver-java-options -Xms{DRIVER_MEM} pyspark-shell"
    )
    if root not in sys.path:
        sys.path.insert(0, root)


def start_spark(run_dir: str):
    from jira_cdc_git_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.range(1).count()  # first job: lazy scheduler set-up is part of set-up
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the context and the gateway JVM, and wait for the JVM to exit,
    also when stopping fails half-way (e.g. on SIGTERM during a job)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getPid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def layer_metrics(names, tracer, outcome, stats: dict) -> dict[str, float]:
    """Per-layer values for ``names``; a layer the workload never called
    reads 0."""
    tracer.resolve_spark_counts()
    summary = tracer.summary()
    jobs, stages, tasks = tracer.totals()
    vals = {k: 0.0 for k in names}
    for k, v in summary.items():
        if k in vals:
            vals[k] = float(v)
    vals.update(outcome.layer)
    vals["pipeline.sync_batch.child_s"] = vals["pipeline.sync_batch.s"] - vals["pipeline.sync_batch.self_s"]
    vals["jql.spark_jobs"] = sum(
        float(summary.get(f"{n}.spark_jobs", 0))
        for n in ("jql.query", "jql.compile", "jql.execute", "sinks.latest_issues")
    )
    vals["spark.jobs"], vals["spark.stages"], vals["spark.tasks"] = float(jobs), float(stages), float(tasks)
    vals["latency.samples"] = float(stats["n"])
    vals["latency.tail_pct"] = float(stats["tail_pct"])
    vals["trace.latency_p50_s"] = float(stats["p50"])
    vals["trace.overhead_s"] = tracer.overhead_s
    vals["trace.spans"] = float(len(tracer.measured()))
    return vals


def run_one(args, root: str) -> int:
    # a terminated run still stops its JVM and generator and removes run_dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(root, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(run_dir)
    cpu0 = cpu_times()
    spark = None
    try:
        prepare_env(root, run_dir)
        from perfbench import workloads
        from perfbench.spans import Tracer
        from perfbench.stats import median_and_tail

        spark, session_s = start_spark(run_dir)
        tracer = Tracer(spark.sparkContext) if args.trace else None
        bench = workloads.Bench(
            spark=spark, run_dir=run_dir, seed=args.seed, seconds=args.seconds,
            tracer=tracer,
        )
        try:
            out = {**workloads.WORKLOADS, **workloads.PROBES}[args.workload](bench)
        finally:
            if tracer:
                tracer.unwrap_all()
        stats = median_and_tail(out.latencies)
        peak = jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        units = metric_units(root, "per_layer" if args.trace else "end_to_end")
        if args.trace:
            values = layer_metrics(units, tracer, out, stats)
        else:
            values = {
                "setup_s": session_s + out.setup_s,
                "latency_p50_s": stats["p50"],
                "latency_tail_s": stats["tail"],
                "throughput_per_s": out.throughput,
                "peak_rss_mb": peak,
            }
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.join(root, ".perfbench"))
            except OSError:
                pass

    bench.mark("stop")
    bench.info.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "cpus": cpu_count(), "spark_cpus": spark_cpus(), "driver_mem": DRIVER_MEM,
        "steal_pct": steal_pct(cpu0, cpu_times()),
        "session_s": round(session_s, 3), "fixture_setup_s": round(out.setup_s, 3),
        "tail_pct": stats["tail_pct"], "samples": stats["n"],
    })
    print("info " + json.dumps(bench.info))
    for e in out.errors:
        print(f"ORACLE MISMATCH: {e}")
    for name, unit in units.items():
        print(f"{args.workload:12s} {name:42s} {values[name]:14.6f} {unit}")
    # a run that produced a result exits 0; the verdict is the "correct" field
    print(json.dumps({
        "correct": not out.errors,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


def run_all(args) -> int:
    """Run every workload in its own process; exit 1 if any run crashed or
    reported an oracle mismatch."""
    from perfbench.workloads import WORKLOADS

    ok = True
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(r.stdout)
        sys.stdout.flush()
        lines = r.stdout.strip().splitlines()
        try:
            ok = ok and r.returncode == 0 and json.loads(lines[-1])["correct"]
        except (IndexError, ValueError, KeyError):
            ok = False
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description="JIRA→git CDC sync benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "jira_cdc_git_spark", "__init__.py")):
        print("perfbench: run from the repository root; jira_cdc_git_spark/ is missing",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    if args.workload == "all":
        return run_all(args)
    from perfbench.workloads import PROBES, WORKLOADS

    if args.workload not in WORKLOADS and args.workload not in PROBES:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS) + sorted(PROBES)} or all",
              file=sys.stderr)
        return 2
    return run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())
