"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [--out perfbench/results/selftest.json]

1. planted row: a run with ``--plant-wrong-row`` must report
   ``correct: false``, with the planted result failed both in the
   checked pass and in the re-check of the last timed pass, and the
   same run without it must pass;
2. layout only: two seeds and a held-out seed give identical oracle
   answers on every workload;
3. traced counts: two traced runs on one seed pass their own
   self-tests (additivity, identical counts between their two traced
   passes) and agree exactly with each other on those counts; the
   persisted RDDs left after the last pass are recorded beside them;
4. held-out seed: on a seed ``results/steady.json`` does not use, the
   median of three runs, alternated with three runs on seed 1, lies
   within each end-to-end metric's bound of seed 1's median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

HELD_OUT_SEED = 1_000_003


def bench(workload: str, seed: int, trace: int = 0, seconds: int = 1, plant: bool = False) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]  # fmt: skip
    if plant:
        cmd.append("--plant-wrong-row")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited with {p.returncode}:\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["stderr"] = [ln for ln in p.stderr.splitlines() if "FAILED:" in ln]
    return res


def planted_row() -> dict:
    bad = bench("dedup_similarity", 1, plant=True)
    good = bench("dedup_similarity", 1)
    caught = {
        "checked pass": any("pass check," in ln for ln in bad["stderr"]),
        "re-check": any("(re-check)" in ln for ln in bad["stderr"]),
    }
    return {
        "ok": (not bad["correct"]) and bad["failed"] == 2 and all(caught.values()) and good["correct"],
        "caught": caught,
        "planted": {k: bad[k] for k in ("correct", "attempted", "failed", "stderr")},
        "control": {k: good[k] for k in ("correct", "attempted", "failed")},
    }


def layout_only(workloads: dict) -> dict:
    from perfbench import inputs, oracle

    out = {}
    for name, wl in workloads.items():
        tables = inputs.generate(wl.sf)
        answers = []
        for seed in (1, 2, HELD_OUT_SEED):
            d = os.path.join(ROOT, ".perfbench", "selftest", f"seed{seed}")
            inputs.write_layout(tables, seed, d)
            answers.append(oracle.expected_answers(wl.queries, d))
        out[name] = all(a == answers[0] for a in answers[1:])
    return {"ok": all(out.values()), "identical_answers": out}


def traced_counts(workloads: dict) -> dict:
    from perfbench.run import STABLE_COUNTS
    from perfbench.trace import ADDITIVITY_TOL

    out = {}
    for name in workloads:
        runs = bench(name, 7, trace=1), bench(name, 7, trace=1)
        counts = [{k: r["metrics"][k]["value"] for k in STABLE_COUNTS} for r in runs]
        own = [
            r["correct"]
            and r["metrics"]["trace.additivity_err"]["value"] <= ADDITIVITY_TOL
            and r["metrics"]["trace.count_mismatches"]["value"] == 0
            for r in runs
        ]
        out[name] = {
            "ok": all(own) and counts[0] == counts[1],
            "counts": counts,
            # reported, not required to repeat: see STEADINESS.md
            "persisted_rdds_end": [r["metrics"]["storage.persisted_rdds_end"]["value"] for r in runs],
            "additivity_err": [r["metrics"]["trace.additivity_err"]["value"] for r in runs],
            "failures": runs[0]["stderr"] + runs[1]["stderr"],
            "trace.overhead_s": [r["metrics"]["trace.overhead_s"]["value"] for r in runs],
        }
    return {"ok": all(v["ok"] for v in out.values()), "workloads": out}


def held_out(workloads: dict, pairs: int = 3) -> dict:
    """Runs on the held-out seed, alternated with runs on seed 1 of the
    steadiness record, so the box's speed drift hits both seeds alike;
    the held-out median must lie within each metric's bound of seed 1's.
    The shift from the record's ten-seed median is reported beside it."""
    with open(os.path.join(HERE, "results", "steady.json")) as f:
        steady = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = {}
    for name in workloads:
        runs = {HELD_OUT_SEED: [], 1: []}
        for i in range(pairs):
            order = (HELD_OUT_SEED, 1) if i % 2 == 0 else (1, HELD_OUT_SEED)
            for seed in order:
                runs[seed].append(bench(name, seed, seconds=spec["run_seconds"]))

        def med(seed: int, m: str) -> float:
            return statistics.median(r["metrics"][m]["value"] for r in runs[seed])

        shift = {m: med(HELD_OUT_SEED, m) / med(1, m) - 1.0 for m in bounds}
        record = steady["workloads"][name]["summary"]
        correct = all(r["correct"] for rs in runs.values() for r in rs)
        out[name] = {
            "correct": correct,
            "shift": shift,
            "shift_vs_record": {m: med(HELD_OUT_SEED, m) / record[m]["median"] - 1.0 for m in bounds},
            "values": {str(seed): [{m: r["metrics"][m]["value"] for m in bounds} for r in rs] for seed, rs in runs.items()},
            "ok": correct and all(abs(s) <= bounds[m] for m, s in shift.items()),
        }
    return {"ok": all(v["ok"] for v in out.values()), "seed": HELD_OUT_SEED, "workloads": out}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(HERE, "results", "selftest.json"))
    ap.add_argument("--skip", nargs="*", default=(), choices=("planted", "layout", "traced", "held_out"))
    args = ap.parse_args()
    from perfbench.workloads import WORKLOADS

    tests = {
        "planted": planted_row,
        "layout": lambda: layout_only(WORKLOADS),
        "traced": lambda: traced_counts(WORKLOADS),
        "held_out": lambda: held_out(WORKLOADS),
    }
    result = {}
    for name, fn in tests.items():
        if name in args.skip:
            continue
        result[name] = fn()
        print(name, "ok" if result[name]["ok"] else result[name], flush=True)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, default=str)
    return 0 if all(r["ok"] is not False for r in result.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
