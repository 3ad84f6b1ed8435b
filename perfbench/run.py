#!/usr/bin/env python3
"""Benchmark entry point: run one workload from a seed and print its metrics.

    python3 perfbench/run.py --workload corpus_lake --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. Inputs are generated from the seed
into ``.perfbench_work/`` (cached per seed, never timed), one Spark
session is built the way the CLI builds it, a warm-up pass runs, then
timed passes repeat until ``--seconds`` have elapsed. Outputs of the
last pass are checked against independent references (DuckDB or plain
Python) after the timed section.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes (at least three, starting untraced), reports
the per-layer metrics from the traced ones, and reports the tracing
overhead as the difference of the two pass medians. Spans are written to ``.perfbench_work/traces/``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Human-readable lines (every metric of the workload by name
with its unit, every correctness check) come before it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Driver heap for the local-mode JVM (the engine's default, 24g, is
#: more than a small box has).
DRIVER_MEM = "2g"

def process_age_s() -> float:
    """Seconds since this process started (kernel start time)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` (the live ones)."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12])
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat: the
    share of time a virtual machine's CPUs were taken by its host."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def configure(work: Path) -> dict:
    """Fit the session to this machine without touching the engine:
    each value is an environment variable the engine already reads, a
    temp location, or console output. Returns them for the report."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(tmp),
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # console progress bars only; no effect on execution
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    return env


def start_session(work: Path):
    from sales_etl_spark import session

    # The engine's warehouse default is a fixed /tmp path; keep every
    # write inside the checkout.
    session._BUILD_CONFS = {
        **session._BUILD_CONFS,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    spark = session.get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and its workers) to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> int:
    if not (ROOT / "sales_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package sales_etl_spark not found under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import metrics
    import spans
    import workloads

    work = ROOT / ".perfbench_work"
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    t = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t

    overrides = configure(work)
    tracer = spans.Tracer(enabled=False)
    t = time.perf_counter()
    with tracer.span("session.build"):
        spark = start_session(work)
    build_s = time.perf_counter() - t
    try:
        status = spans.SparkStatus(spark)
        tracer.job_counter = status.next_job_id
        wl.setup(spark)
        # Warm-up, part of setup_s: one pass with as many shuffle
        # partitions as cores, which loads and compiles the same plans
        # at a fraction of the task count; the timed passes run with
        # the session default again.
        key = "spark.sql.shuffle.partitions"
        default_partitions = spark.conf.get(key)
        spark.conf.set(key, str(status.cores))
        wl.run_pass(spark, tracer, -1)
        spark.conf.set(key, default_partitions)
        wl.samples.clear()
        setup_s = process_age_s() - gen_s

        passes = []  # (pass_id, traced, seconds)
        pids = spans.descendant_pids(os.getpid())
        cpu0 = cpu_seconds(pids)
        steal0 = cpu_ticks()
        t_start = time.perf_counter()
        with spans.RssSampler() as rss:
            i = failures = 0
            while failures < 3:
                tracer.enabled = bool(args.trace) and i % 2 == 1
                tracer.pass_id = i
                t = time.perf_counter()
                try:
                    with tracer.span("pass"):
                        wl.run_pass(spark, tracer, i)
                    passes.append((i, tracer.enabled, time.perf_counter() - t))
                    failures = 0
                except Exception:
                    traceback.print_exc(file=sys.stderr)
                    failures += 1
                i += 1
                done = time.perf_counter() - t_start >= args.seconds
                # Traced runs take at least untraced, traced, untraced:
                # the untraced median then brackets the traced pass, so
                # passes still speeding up do not read as overhead.
                if done and len(passes) >= (3 if args.trace else 1):
                    break
        tracer.enabled = False
        cpu_s = (cpu_seconds(pids) - cpu0) / max(1, i)
        steal1 = cpu_ticks()
        steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

        untraced = [d for _, tr, d in passes if not tr]
        if not untraced:
            print("perfbench: no timed pass completed", file=sys.stderr)
            return 1
        t = time.perf_counter()
        try:
            checks_run = wl.check()
            extra = wl.report()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            checks_run, extra = [("checks", False, "raised")], {}
        check_s = time.perf_counter() - t
        failed = tracer.failed + sum(1 for _, ok, _ in checks_run if not ok)
        attempted = tracer.attempted + len(checks_run)
        e2e = {
            "setup_s": setup_s,
            "job_s": spans.median(untraced),
            "cpu_s": cpu_s,
            "peak_rss_mb": rss.peak_kb / 1024.0,
        }
        report = metrics.workload_report(wl, e2e, extra, failed, attempted, passes)
        if args.trace:
            jobs = status.job_metrics() if status.rest_ok else {}
            layer = metrics.per_layer(wl, tracer, jobs, status.cores, passes,
                                      build_s, report, spark)
            trace_dir = work / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(trace_dir / f"{args.workload}-{args.seed}.json"),
                        [spans.span_spark_counters(s, jobs, status.cores)
                         for s in tracer.spans])
    finally:
        stop_session(spark)

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(passes)} timed passes, inputs generated in {gen_s:.2f} s (not billed), "
          f"checks took {check_s:.2f} s")
    print("# pass seconds (* = traced): " + " ".join(
        f"{d:.3f}{'*' if tr else ''}" for _, tr, d in passes)
        + f"; host CPU steal during them {steal:.1%}")
    print("# session overrides: " + json.dumps(overrides, sort_keys=True))
    for name, ok, detail in checks_run:
        print(f"check {name:<28} {'PASS' if ok else 'FAIL'}  {detail}")
    for name, (value, unit) in report.items():
        print(f"metric {name:<30} {value} {unit}")
    if args.trace:
        for name, unit in metrics.per_layer_names():
            print(f"layer {name:<40} {layer[name]} {unit}")
    # The JSON line carries exactly the metrics BENCHMARK.json declares.
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    values = layer if args.trace else e2e
    out_metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer" if args.trace else "end_to_end"]}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out_metrics}))
    return 0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["etl_registry", "corpus_lake"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse_args()))
