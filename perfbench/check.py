#!/usr/bin/env python3
"""Checks of the benchmark itself; runs ``run.py`` one process at a time.

    python3 perfbench/check.py spread --workload rollup_cascade --seeds 1-10
        Untraced runs, one per seed.  For each end-to-end metric prints the
        median and the spread (Q3 - Q1 of the runs, as a share of the
        median, quartiles by ``statistics.quantiles(n=4)``) against a third
        of the metric's bound in BENCHMARK.json.

    python3 perfbench/check.py repeat --workload tokens_short --seed 1
        Two traced runs with the same seed: the exact counts must repeat
        exactly, and both must report every per-layer metric.  Prints the
        first run's per-layer metrics.

Exits 1 when a check fails.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXACT = (
    "extract.features_per_series",
    "extract.nan_frac",
    "gapfill.rows_out_per_in",
    "codec.bytes_per_point",
)


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"),
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
    ]
    proc = subprocess.run(
        cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        raise SystemExit(f"seed {seed}: incorrect output {result}")
    return result


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("mode", choices=("spread", "repeat"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = spec["run_seconds"]
    ok = True

    if args.mode == "spread":
        values: dict[str, list[float]] = {}
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            result = run(args.workload, seed, seconds, 0)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"seed {seed} ({time.monotonic() - t0:.0f} s wall): " + ", ".join(
                f"{n}={m['value']:.4g}" for n, m in result["metrics"].items()),
                flush=True)
        report = {}
        for m in spec["end_to_end"]:
            vals = values[m["name"]]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            steady = spread < m["bound"] / 3 or m["name"] == "setup_s"
            ok &= steady
            report[m["name"]] = {
                "median": med, "spread": round(spread, 4),
                "limit": round(m["bound"] / 3, 4), "steady": steady,
                "values": vals,
            }
        print(json.dumps({"workload": args.workload, "spread": report}))
    else:
        a = run(args.workload, args.seed, seconds, 1)["metrics"]
        b = run(args.workload, args.seed, seconds, 1)["metrics"]
        declared = {m["name"] for m in spec["per_layer"]}
        diffs = {
            n: (a[n]["value"], b[n]["value"])
            for n in EXACT if a[n]["value"] != b[n]["value"]
        }
        ok = not diffs and set(a) == set(b) == declared
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "exact": {n: a[n]["value"] for n in EXACT},
            "differ": diffs, "ok": ok,
            "metrics": {n: m["value"] for n, m in a.items()},
        }))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
