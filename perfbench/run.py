"""spark-graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Load model: a closed loop with one client.  A fresh driver process on
``local[$SPARK_GRAFT_CPUS]`` runs the workload's registry queries one
at a time, through ``REGISTRY[name].spark(spark, dir)``, over inputs
this script generates from the seed (see ``inputs.py``), and checks
the results (see ``oracle.py`` and ``worker.py``).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones:

- ``setup_s``: process start to the first query result (cold JVM,
  session, ``ship_package``, first query);
- ``pass_s``: median wall time of one timed pass over the workload,
  over a fixed number of timed passes after one warm-up pass (see
  ``worker.py``);
- ``pass_cpu_s``: median CPU seconds of one timed pass over the driver,
  JVM and Python-worker process tree;
- ``peak_mem_mb``: JVM heap after a full GC plus Python RSS, the
  larger of two probes taken at fixed points of the run.

Every result is checked: the first pass collects each query's result
and compares it with the DuckDB oracle, and the DataFrames the last
timed pass sent to the sink are collected and compared again after
the timed window.

With ``--trace 1`` the metrics are the per-layer ones of ``trace.py``,
plus the results of the trace's self-tests: ``trace.additivity_err``,
the worst relative gap between a query's traced wall and the sum of
its build span, its sink's Catalyst phases and its sink's SQL
execution, three figures from three sources (must stay within 10%), and
``trace.count_mismatches``, the counts on which the two traced passes
disagree (must be 0).  Violations are printed to stderr; ``correct``
speaks only of the program's results.

``--plant-wrong-row`` corrupts one row of the first query's result in
both checks; the run must then report both as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "mcm_problem_f_data_wrangling_spark"
# leave room under the 180 s limit for input generation and teardown
WORKER_TIMEOUT_S = 160.0
# counts the two traced passes of one run must agree on exactly; the
# persisted-RDD count is left out because it does not repeat (see
# STEADINESS.md)
STABLE_COUNTS = (
    "plans.py4j_calls",
    "operators.build_jobs",
    "exec.stages",
    "streaming.batches",
)


def _checkout_ok() -> str | None:
    for rel in (PACKAGE, "tools/check_parity.py"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"{rel} is missing: run from a checkout of the repository"
    return None


def _env(work: str) -> dict[str, str]:
    """Keep every file the run writes inside the checkout."""
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    # each run ships the package as a fresh zip here; keep one run's worth
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # -XX:-UsePerfData: no hsperfdata file under /tmp
    opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    return env


def run_worker(args, work: str, data_dir: str, expect: str) -> tuple[dict, float]:
    from perfbench import proc

    out = os.path.join(work, "report.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--data", data_dir, "--work", work,
        "--expect", expect, "--out", out,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
    ]  # fmt: skip
    if args.plant_wrong_row:
        cmd.append("--plant-wrong-row")
    log_path = os.path.join(work, "worker.log")
    env = _env(work)
    # a run stopped from outside still stops its worker (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        spawned = time.monotonic()
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            proc.stop_group(p.pid)
            p.wait()
    if p.returncode != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"worker exited with {p.returncode}:\n{tail}")
    with open(out) as f:
        return json.load(f), spawned


def end_to_end(report: dict, spawned: float) -> dict:
    walls = [p["wall_s"] for p in report["passes"]]
    cpus = [p["cpu_s"] for p in report["passes"]]
    return {
        "setup_s": (report["marks"]["first_result"] - spawned, "s"),
        "pass_s": (statistics.median(walls), "s"),
        "pass_cpu_s": (statistics.median(cpus), "s"),
        "peak_mem_mb": (max(report["mem_probes"]), "MB"),
    }


def per_layer(report: dict, spawned: float) -> tuple[dict, list[str]]:
    """Per-layer metrics of traced pass B, and the self-test failures.

    ``storage.persisted_rdds_end`` is the count after pass B.
    """
    from perfbench.trace import ADDITIVITY_TOL, EventIndex, additivity, read_events

    idx = EventIndex(read_events(report["events"]))
    passes = {p["label"]: p for p in report["passes"]}
    persisted = report["persisted"]
    summary = {}
    for label in ("A", "B"):
        summary[label] = idx.summarize(label, passes[label])
        summary[label]["storage.persisted_rdds_end"] = persisted[label]
    problems = [
        f"traced passes disagree on {k}: {summary['A'][k]} vs {summary['B'][k]}"
        for k in STABLE_COUNTS
        if summary["A"][k] != summary["B"][k]
    ]
    mismatches = len(problems)
    worst = 0.0
    for label in ("A", "B"):
        for name, ratio in additivity(idx.query_layers(label, passes[label])).items():
            worst = max(worst, abs(ratio - 1.0))
            if abs(ratio - 1.0) > ADDITIVITY_TOL:
                problems.append(f"pass {label}, {name}: layers cover {ratio:.1%} of the traced wall")
    marks = report["marks"]
    m = {
        "session.jvm_start_s": marks["session"] - spawned,
        "session.ship_s": marks["shipped"] - marks["session"],
        "session.first_result_s": marks["first_result"] - marks["shipped"],
    }
    m.update(summary["B"])
    m["storage.storage_mem_mb"] = report["storage_mem_mb"]
    traced = (passes["A"]["wall_s"] + passes["B"]["wall_s"]) / 2.0
    m["trace.overhead_s"] = traced - passes["U"]["wall_s"]
    m["trace.additivity_err"] = worst
    m["trace.count_mismatches"] = mismatches
    return {k: (v, _unit(k)) for k, v in m.items()}, problems


def _unit(name: str) -> str:
    suffix = name.rsplit("_", 1)[-1]
    return {"s": "s", "ms": "ms", "mb": "MB", "cores": "cores", "skew": "ratio", "err": "ratio"}.get(suffix, "count")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-row", action="store_true")
    args = ap.parse_args()
    problem = _checkout_ok()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, oracle
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    started = time.monotonic()
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", args.workload)
    os.makedirs(work, exist_ok=True)
    data_dir = os.path.join(work, "data")
    inputs.write_layout(inputs.generate(wl.sf), args.seed, data_dir)
    expect = os.path.join(work, "expected.pkl")
    with open(expect, "wb") as f:
        pickle.dump(oracle.expected_answers(wl.queries, data_dir), f)

    report, spawned = run_worker(args, work, data_dir, expect)
    ended = time.monotonic()
    failures = report["failures"]
    for line in failures:
        print("FAILED:", line, file=sys.stderr)
    if args.trace:
        metrics, problems = per_layer(report, spawned)
        for line in problems:
            print("SELF-TEST FAILED:", line, file=sys.stderr)
    else:
        metrics = end_to_end(report, spawned)
    walls = ", ".join(f"{p['wall_s']:.3f}" for p in report["passes"])
    cpus = ", ".join(f"{p['cpu_s']:.2f}" for p in report["passes"])
    print(f"{args.workload} seed={args.seed}: {len(report['passes'])} passes, wall [{walls}] s, cpu [{cpus}] s")
    marks = sorted(report["marks"].items(), key=lambda kv: kv[1])
    print("run phases (s from worker spawn):", ", ".join(f"{k} {v - spawned:.1f}" for k, v in marks), f"exited {ended - spawned:.1f}; inputs {spawned - started:.1f}")
    print(
        json.dumps(
            {
                "correct": not failures,
                "attempted": report["attempted"],
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
