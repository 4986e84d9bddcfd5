#!/usr/bin/env python3
"""tsfresh_spark benchmark: one seeded workload, closed loop, checked.

    python3 perfbench/run.py --workload tokens_short --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout, on ``local[N]`` with N = the
cores this process may use.  One driver process keeps one job in flight;
the next job starts when the previous one ends, until ``--seconds`` have
passed (at least one job always runs).

Set-up (session start, input generation and cache, one untimed warm-up
job) is repeated ``SETUP_CYCLES`` times, each on a fresh SparkContext, and
``setup_s`` is the median cycle.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` alternates untraced and traced jobs, then measures each layer
(see layers.py) and reports the per-layer metrics, including the tracing
overhead.  Every line before the last is human-readable; the last line is
the JSON result.  Spans of a traced run are written to
``.perfbench_work/spans-<workload>-s<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_CYCLES = 3
NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")


def configure_environment(work: Path) -> None:
    """Keep the JVM, Spark and Python workers inside the checkout and make
    the checkout's package importable in the workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # same str hashing in every worker, every run
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # Spark gives each Python worker OMP_NUM_THREADS=1; the driver-side
    # recomputation must use one BLAS thread too, or lstsq-based kernels
    # (ADF) differ in the last bits.  It also keeps the kernel layer on one
    # core.
    os.environ["OMP_NUM_THREADS"] = "1"
    os.environ["OPENBLAS_NUM_THREADS"] = "1"


def start_session(work: Path):
    from tsfresh_spark.session import build_session

    cores = len(os.sched_getaffinity(0))
    spark = build_session(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # a fixed, pre-touched heap: the JVM's RSS then does not depend
            # on when the collector grows the heap, so peak_rss_mb is steady
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    fields = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    return fields[7], sum(fields)


def median(values) -> float:
    return float(statistics.median(values))


def measure(args, work: Path) -> dict:
    from layers import rollup_layers, tokens_layers
    from obs import RssSampler, Tracer
    from workloads import make

    wl = make(args.workload)
    off, tracer = Tracer(False), Tracer(bool(args.trace))
    problems: list[str] = []
    cycles = []
    spark = None
    try:
        with RssSampler() as rss:
            for k in range(SETUP_CYCLES):
                t0 = time.perf_counter()
                spark = start_session(work)
                t1 = time.perf_counter()
                wl.make_input(spark, args.seed, str(work))
                t2 = time.perf_counter()
                if k == 0:
                    wl.prepare_checks()
                t3 = time.perf_counter()
                problems += [f"warm-up {e}" for e in wl.warm_up(spark)]
                t4 = time.perf_counter()
                cycles.append((t1 - t0, t2 - t1, t4 - t3))
                if k < SETUP_CYCLES - 1:
                    wl.release()
                    spark.stop()

            jobs: list[tuple[bool, object]] = []
            ticks0 = cpu_ticks()
            deadline = time.perf_counter() + args.seconds
            while (
                time.perf_counter() < deadline
                or not jobs
                or (args.trace and len(jobs) < 2)
            ):
                traced = bool(args.trace) and len(jobs) % 2 == 1
                op_id, t = f"job{len(jobs)}", tracer if traced else off
                with t.span("job", op_id):
                    jobs.append((traced, wl.job(spark, t, op_id)))
            ticks1 = cpu_ticks()

            reference = jobs[0][1].checksum
            for _, job in jobs:
                if job.checksum != reference and not job.errors:
                    job.ops[0].error = "output checksum differs from the first job"

            layers = {}
            if args.trace:
                traced_jobs = [j for t, j in jobs if t]
                untraced_jobs = [j for t, j in jobs if not t]
                if any(j.errors for _, j in jobs):
                    problems.append("layers skipped: a job failed")
                elif args.workload == "rollup_cascade":
                    with tracer.span("layers", "layers"):
                        layers = rollup_layers(
                            spark, wl, args.seed, tracer, traced_jobs, untraced_jobs)
                else:
                    with tracer.span("layers", "layers"):
                        layers = tokens_layers(
                            spark, wl, args.seed, tracer, traced_jobs)
                untraced_p50 = median(j.seconds for j in untraced_jobs)
                layers["trace.overhead_frac"] = (
                    median(j.seconds for j in traced_jobs) / untraced_p50 - 1.0
                )
            stop_jvm(spark)
            spark = None
    finally:
        if spark is not None:
            stop_jvm(spark)
    if args.trace:
        tracer.write(str(work.parent / f"spans-{args.workload}-s{args.seed}.json"))

    return {
        "workload": wl,
        "cycles": cycles,
        "jobs": jobs,
        "layers": layers,
        "peak_rss_mb": rss.peak_mb,
        "problems": problems,
        # CPU time the hypervisor gave to other guests while the jobs ran:
        # a noisy neighbour shows here, not in any metric
        "steal_frac": (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1),
    }


def build_metrics(args, r: dict) -> tuple[dict, list[str]]:
    """The metric values for this mode, and human-readable extra lines."""
    wl, jobs = r["workload"], r["jobs"]
    ops = [op for _, j in jobs for op in j.ops]
    failed = sum(1 for op in ops if op.error)
    untraced = [j for t, j in jobs if not t]
    job_p50 = median(j.seconds for j in untraced)
    setup = [sum(c) for c in r["cycles"]]
    info = [
        f"input {wl.units} {wl.unit_name}; {len(untraced)} untraced jobs"
        f" ({len(jobs) - len(untraced)} traced); job_s samples "
        + ", ".join(f"{j.seconds:.3f}" for j in untraced),
        "setup cycles (session, input, warm-up) s: "
        + "; ".join(", ".join(f"{x:.3f}" for x in c) for c in r["cycles"]),
        f"CPU steal while the jobs ran: {100 * r['steal_frac']:.1f} %",
    ]
    if args.workload == "rollup_cascade":
        info.append(
            f"run_s {median(j.ops[0].seconds for j in untraced):.4f} s, "
            f"resume_s {median(j.ops[1].seconds for j in untraced):.4f} s, "
            f"read_s_p50 {median(j.ops[2].seconds for j in untraced):.4f} s, "
            f"bytes_per_point {untraced[0].counts.get('bytes_per_point', 0):.4f} B"
        )
    if args.trace:
        values = dict(r["layers"])
        values.update({
            "setup.session_s": median(c[0] for c in r["cycles"]),
            "setup.input_s": median(c[1] for c in r["cycles"]),
            "setup.warmup_s": median(c[2] for c in r["cycles"]),
            "ops_failed_frac": failed / len(ops),
        })
    else:
        values = {
            "setup_s": median(setup),
            "job_s_p50": job_p50,
            "tokens_per_s": wl.units / job_p50,
            "peak_rss_mb": r["peak_rss_mb"],
        }
    return values, info


def self_check(values: dict, declared: dict) -> list[str]:
    """Every declared metric is present, nothing else is, names are valid."""
    errs = [f"bad metric name {n!r}" for n in values if not NAME_RE.fullmatch(n)]
    missing = sorted(set(declared) - set(values))
    extra = sorted(set(values) - set(declared))
    if missing:
        errs.append(f"missing metrics {missing}")
    if extra:
        errs.append(f"undeclared metrics {extra}")
    return errs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "tsfresh_spark" / "__init__.py").is_file():
        print(f"perfbench: no tsfresh_spark package in {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        m["name"]: m["unit"]
        for m in spec["per_layer" if args.trace else "end_to_end"]
    }

    work = ROOT / ".perfbench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    configure_environment(work)
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values, info = build_metrics(args, result)
    errs = self_check(values, declared)
    if errs:
        print("perfbench: self-check failed: " + "; ".join(errs), file=sys.stderr)
        return 3
    ops = [op for _, j in result["jobs"] for op in j.ops]
    failures = [f"{op.name}: {op.error}" for op in ops if op.error]
    for line in failures + result["problems"]:
        print(f"perfbench: FAILED {line}", file=sys.stderr)
    for line in info:
        print(line)
    for name, value in values.items():
        print(f"{name:34s} {value:>16.6f} {declared[name]}")
    print(json.dumps({
        "correct": not failures and not result["problems"],
        "attempted": len(ops),
        "failed": len(failures),
        "metrics": {
            n: {"value": v, "unit": declared[n]} for n, v in values.items()
        },
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
