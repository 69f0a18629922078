"""Steadiness record: repeat the benchmark over seeds and summarize.

    python3 perfbench/steady.py --runs 10 --seconds <s> [--first-seed 1]
        [--out perfbench/results/steady.json] workload ...

Runs ``run.py --trace 0`` once per seed per workload, one run at a
time, and writes every run's metrics plus, per metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (interquartile
distance over the median), with the identity of the box that ran them:
numbers from different boxes are not comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def box_identity() -> dict:
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.splitlines()
    import numpy as np

    blas = {}
    try:
        cfg = np.show_config(mode="dicts")
        blas = {k: v.get("name") for k, v in cfg.get("Build Dependencies", {}).items()}
    except TypeError:  # numpy < 1.26 prints instead of returning a dict
        pass
    with open("/proc/cpuinfo") as f:
        model = next((ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")), "?")
    return {
        "cores": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
        "cpu": model,
        "jvm": java[0] if java else "?",
        "blas": blas,
        "python": platform.python_version(),
        "numpy": np.__version__,
    }


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "min": min(values),
        "max": max(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", default=os.path.join(HERE, "results", "steady.json"))
    args = ap.parse_args()
    record = {"box": box_identity(), "seconds": args.seconds, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.monotonic()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True,
            )  # fmt: skip
            elapsed = time.monotonic() - t0
            if p.returncode != 0:
                print(p.stderr[-3000:], file=sys.stderr)
                return 1
            res = json.loads(p.stdout.strip().splitlines()[-1])
            lines = p.stdout.strip().splitlines()
            res.update(seed=seed, elapsed_s=elapsed, passes=lines[-3], phases=lines[-2])
            runs.append(res)
            vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
            print(wl, seed, f"{elapsed:.1f}s", res["correct"], vals, flush=True)
        names = runs[0]["metrics"]
        record["workloads"][wl] = {
            "runs": runs,
            "summary": {m: summarize([r["metrics"][m]["value"] for r in runs]) for m in names},
            "elapsed_s": summarize([r["elapsed_s"] for r in runs]),
            "all_correct": all(r["correct"] for r in runs),
        }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1)
    for wl, rec in record["workloads"].items():
        for m, s in rec["summary"].items():
            print(f"{wl:18s} {m:40s} median {s['median']:10.3f}  spread {s['spread'] if s['spread'] is not None else float('nan'):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
