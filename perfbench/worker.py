"""The measured batch job of one benchmark run.

``run.py`` starts this module as a fresh process, so its set-up is the
cold one a batch job pays: interpreter and imports, JVM launch and
session (``get_spark``), ``ship_package`` and the first query result.

Passes, in order; their number never depends on how fast the program
is:

1. the checked pass: every query of the workload is built and its
   result collected and checked against the expected answer; its first
   query is the set-up's first result;
2. one untimed warm-up pass to the noop sink;
3. untraced mode: a fixed number of timed passes to the noop sink
   (``timed_passes``); traced mode instead runs the sequence A, U, B:
   two traced passes around one untraced pass;
4. the re-check: every DataFrame the last timed pass built (B when
   traced) is collected and checked again, outside the timed window,
   so a program that returns wrong results from a later call on fails
   the run.

The JVM heap after a full GC plus the Python processes' RSS is probed
after the checked pass and after the warm-up pass, so the reading does
not depend on how many passes a run makes.  Leaked persisted RDDs are
counted but never released.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import pickle
import shutil
import threading
import time
import traceback

from . import proc
from .trace import SPAN_KEY

MIN_TIMED_PASSES = 1


def timed_passes(seconds: float, nominal_pass_s: float) -> int:
    """How many timed passes ``--seconds`` buys.

    The count comes from the workload's nominal pass time, a constant,
    never from the speed of the run at hand: a program that gets faster
    is measured over the same passes, at the same point of the JVM's
    warm-up, as the one before it.
    """
    return max(MIN_TIMED_PASSES, round(seconds / nominal_pass_s))


class Runner:
    def __init__(self, spark, workload, args) -> None:
        from mcm_problem_f_data_wrangling_spark.plans import REGISTRY

        from .oracle import check

        self.spark = spark
        self.sc = spark.sparkContext
        self.registry = REGISTRY
        self.check = check
        self.wl = workload
        self.args = args
        with open(args.expect, "rb") as f:
            self.expected = pickle.load(f)
        self.attempted = 0
        self.failures: list[str] = []
        self.mem_probes: list[float] = []
        self.persisted: dict[str, int] = {}
        self.counter = self.listener = None
        if args.trace:
            from .trace import PlanningListener, Py4jCounter

            self.counter = Py4jCounter(self.sc._gateway._gateway_client, threading.get_ident())
            self.listener = PlanningListener.register(spark)

    def _sink(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _fail(self, label: str, name: str, why: str) -> None:
        self.failures.append(f"pass {label}, {name}: {why}")

    def _check(self, label: str, name: str, df, plant: bool) -> None:
        """Collect ``df`` and compare it with the oracle's answer."""
        cols = [c.lower() for c in df.columns]
        rows = [tuple(r) for r in df.collect()]
        if plant:
            rows = plant_wrong_row(rows)
        problem = self.check(name, self.expected[name], cols, rows)
        if problem:
            self._fail(label, name, problem)

    # -- passes --------------------------------------------------------
    def checked_pass(self, marks: dict) -> None:
        for i, name in enumerate(self.wl.queries):
            self.attempted += 1
            try:
                df = self.registry[name].spark(self.spark, self.args.data)
                self._check("check", name, df, self.args.plant_wrong_row and i == 0)
            except Exception:  # noqa: BLE001 - a failing query is a result
                self._fail("check", name, traceback.format_exc(limit=3))
            finally:
                if i == 0:
                    marks["first_result"] = time.monotonic()

    def timed_pass(self, label: str, traced: bool = False, keep: bool = False) -> tuple[dict, dict]:
        """One pass to the noop sink: its record and, with ``keep``, the
        DataFrames it built (otherwise each is dropped after its sink,
        as a batch job would)."""
        cpu0 = proc.tree_cpu_s(os.getpid())
        rec = {"label": label, "queries": []}
        frames = {}
        t0 = time.perf_counter()
        for name in self.wl.queries:
            self.attempted += 1
            try:
                if traced:
                    q, df = self._traced_query(label, name)
                    rec["queries"].append(q)
                else:
                    df = self.registry[name].spark(self.spark, self.args.data)
                    self._sink(df)
                if keep:
                    frames[name] = df
                del df
            except Exception:  # noqa: BLE001 - a failing query is a result
                self._fail(label, name, traceback.format_exc(limit=3))
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = proc.tree_cpu_s(os.getpid()) - cpu0
        return rec, frames

    def recheck(self, label: str, frames: dict) -> None:
        """Collect and check the results a timed pass sent to the sink."""
        for i, (name, df) in enumerate(frames.items()):
            try:
                self._check(f"{label} (re-check)", name, df, self.args.plant_wrong_row and i == 0)
            except Exception:  # noqa: BLE001 - a failing query is a result
                self._fail(f"{label} (re-check)", name, traceback.format_exc(limit=3))

    def _traced_query(self, label: str, name: str) -> tuple[dict, object]:
        """Build and sink one query under its spans.

        Spans: ``build`` is ``REGISTRY[q].spark`` and ``exec`` the sink
        call.  The listener bus is drained after each span, so the
        planning listener's records land in the span that caused them;
        the drain is not inside either span.
        """
        sc, counter, listener = self.sc, self.counter, self.listener
        span = f"{label}|{name}|"
        q = {"name": name}
        sc.setLocalProperty(SPAN_KEY, span + "build")
        q["t0"] = time.perf_counter() * 1000.0
        counter.n, counter.on = 0, True
        try:
            df = self.registry[name].spark(self.spark, self.args.data)
        finally:
            counter.on = False
        q["t1"] = time.perf_counter() * 1000.0
        q["py4j"] = counter.n
        q["build_planning"] = listener.drain(sc)
        sc.setLocalProperty(SPAN_KEY, span + "exec")
        q["t2"] = time.perf_counter() * 1000.0
        self._sink(df)
        q["t3"] = time.perf_counter() * 1000.0
        q["sink_planning"] = listener.drain(sc)
        sc.setLocalProperty(SPAN_KEY, None)
        return q, df

    # -- storage and memory -------------------------------------------
    def count_persisted(self, label: str) -> None:
        """Persisted RDDs still registered after a full GC on both sides.

        Spark's ContextCleaner unpersists an RDD once the JVM collects
        it, and the JVM object lives as long as a Python proxy does, so
        a plain count depends on when each collector last ran.  After
        both collect and the cleaner drains, what remains is what the
        program still holds.  Nothing is unpersisted here.
        """
        sc = self.sc._jsc.sc()
        last, same, deadline = -1, 0, time.monotonic() + 8.0
        # a full collection on each side per read; stable over three reads
        while same < 2 and time.monotonic() < deadline:
            gc.collect()
            self.spark._jvm.java.lang.System.gc()
            time.sleep(0.5)
            n = sc.getPersistentRDDs().size()
            same = same + 1 if n == last else 0
            last = n
        self.persisted[label] = last

    def storage_mem_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() for i in infos) / float(1 << 20)

    def probe_memory(self) -> None:
        jvm = self.spark._jvm
        gc.collect()
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        heap_mb = (rt.totalMemory() - rt.freeMemory()) / float(1 << 20)
        self.mem_probes.append(heap_mb + proc.tree_python_rss_mb(os.getpid()))


def plant_wrong_row(rows: list[tuple]) -> list[tuple]:
    """The self-test's corruption: the first row gets one wrong value."""
    if not rows:
        return [("planted",)]
    row = list(rows[0])
    for i, v in enumerate(row):
        if isinstance(v, bool) or v is None:
            continue
        if isinstance(v, (int, float)):
            row[i] = v + 1
            break
        if isinstance(v, str):
            row[i] = v + "#planted"
            break
    else:
        row.append("planted")
    return [tuple(row)] + rows[1:]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--expect", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--plant-wrong-row", action="store_true")
    args = ap.parse_args()

    from mcm_problem_f_data_wrangling_spark.session import get_spark, ship_package

    from .trace import event_log_conf
    from .workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    marks: dict[str, float] = {}
    conf = {"spark.ui.showConsoleProgress": "false"}
    log_dir = os.path.join(args.work, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update(event_log_conf(log_dir))
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    marks["session"] = time.monotonic()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    marks["shipped"] = time.monotonic()

    r = Runner(spark, wl, args)
    r.checked_pass(marks)
    r.probe_memory()
    marks["checked"] = time.monotonic()
    r.timed_pass("W")
    r.probe_memory()
    marks["warmed"] = time.monotonic()
    passes = []
    if args.trace:
        for label in ("A", "U", "B"):
            rec, frames = r.timed_pass(label, traced=label != "U", keep=label == "B")
            passes.append(rec)
            if label == "B":
                # re-check first, then let go of B's DataFrames, so the
                # count below is of what the program holds, not the
                # benchmark
                r.recheck(label, frames)
                del frames
            r.count_persisted(label)
        storage_mb = r.storage_mem_mb()
    else:
        n = timed_passes(args.seconds, wl.nominal_pass_s)
        for i in range(n):
            rec, frames = r.timed_pass(f"T{i}", keep=i == n - 1)
            passes.append(rec)
        marks["timed"] = time.monotonic()
        r.recheck(rec["label"], frames)
    marks["rechecked"] = time.monotonic()
    spark.stop()
    marks["stopped"] = time.monotonic()

    report = {
        "marks": marks,
        "passes": passes,
        "mem_probes": r.mem_probes,
        "persisted": r.persisted,
        "attempted": r.attempted,
        "failures": r.failures,
    }
    if args.trace:
        report["storage_mem_mb"] = storage_mb
        report["events"] = os.path.abspath(log_dir)
    with open(args.out, "w") as f:
        json.dump(report, f)


if __name__ == "__main__":
    main()
