"""Per-layer numbers of a traced pass, measured from outside the program.

Spans come from three places, none of them inside the package:

- the benchmark's own timers around each query's plan build
  (``REGISTRY[q].spark``) and its delivery to the sink, with py4j calls
  counted during the build;
- a ``QueryExecutionListener`` that reads the ``QueryPlanningTracker``
  of every query execution the program and the sink run, so Catalyst
  is timed on the plans that really execute, with no extra planning;
- the Spark event log (written uncompressed), where every job carries
  the span that caused it as the local property ``perfbench.span``
  (``<pass>|<query>|<phase>``), micro-batch jobs carry their streaming
  query and run, and streaming progress events carry the micro-batch
  and state-store numbers.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re
import statistics
import threading

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

SPAN_KEY = "perfbench.span"
MB = float(1 << 20)
# self-test tolerance: build + Catalyst + execute must cover the wall
ADDITIVITY_TOL = 0.10


def event_log_conf(log_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # the default zstd codec has no Python reader here
        "spark.eventLog.compress": "false",
    }


class Py4jCounter:
    """Counts py4j commands the thread ``thread`` sends while ``on`` is set.

    Object releases (``m\\nd\\n``) are not counted: Python's garbage
    collector sends them whenever it finalizes a proxy, so their number
    depends on collection timing, not on the plan being built.  Nor are
    the planning listener's calls, which come from the callback thread.
    """

    _RELEASE = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def __init__(self, gateway_client, thread: int) -> None:
        self.on = False
        self.n = 0
        send = gateway_client.send_command

        def counting_send(command, *args, **kwargs):
            if self.on and threading.get_ident() == thread and not command.startswith(self._RELEASE):
                self.n += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counting_send


class PlanningListener:
    """A ``QueryExecutionListener``, implemented through the py4j
    callback server, that keeps the Catalyst phase times (ms) of every
    finished query execution until ``drain`` hands them out."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self) -> None:
        self.records: list[dict] = []

    @classmethod
    def register(cls, spark) -> PlanningListener:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        listener = cls()
        spark._jsparkSession.listenerManager().register(listener)
        return listener

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 - Java interface
        phases = qe.tracker().phases()
        rec = {"func": func_name}
        for phase in ("analysis", "optimization", "planning"):
            rec[f"{phase}_ms"] = phases.get(phase).get().durationMs() if phases.contains(phase) else 0
        self.records.append(rec)

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 - Java interface
        self.onSuccess(func_name, qe, 0)

    def drain(self, sc) -> list[dict]:
        """The records of every execution that finished so far.

        Listeners run on Spark's listener bus, behind the query; waiting
        until the bus is empty makes every execution of the span that
        just ended report here.
        """
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.records = self.records, []
        return out


def planning_ms(records: list[dict], phases=("analysis", "optimization", "planning")) -> float:
    return float(sum(r[f"{p}_ms"] for r in records for p in phases))


def read_events(log_dir: str) -> list[dict]:
    """Every event of the single application logged under ``log_dir``
    (Spark writes it as a rolling ``eventlog_v2_*`` directory)."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))

    def part(path: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return int(m.group(1)) if m else 0

    events = []
    for path in sorted(files, key=part):
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Seconds covered by the union of [start, end] intervals in ms."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total / 1000.0


def _iso_ms(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp() * 1000.0


class EventIndex:
    """The event log, indexed for per-pass summaries.

    A job's phase is the span phase it ran under (``build`` or
    ``exec``), except that micro-batch jobs, which carry their
    streaming query, are ``stream`` wherever they ran: the registry's
    streaming queries run their streams to completion inside the build.
    """

    def __init__(self, events: list[dict]) -> None:
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.completed_stages: set[int] = set()
        self.tasks: dict[int, list[dict]] = {}
        self.sql: dict[int, dict] = {}
        self.acc_names: dict[int, str] = {}
        self.driver_accums: list[tuple[int, list]] = []
        self.stream_start: dict[str, float] = {}
        self.progress: list[dict] = []
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_KEY) or ""
                stream = "sql.streaming.queryId" in props
                sql = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "span": span,
                    "phase": "stream" if stream else span.rsplit("|", 1)[-1],
                    # micro-batch jobs run in their stream run's job group
                    "run": props.get("spark.jobGroup.id") if stream else None,
                    "sql": int(sql) if sql is not None else None,
                    "start": e["Submission Time"],
                }
                for sid in e.get("Stage IDs", ()):
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                self.completed_stages.add(e["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql[e["executionId"]] = {"start": e["time"]}
                self._plan_metrics(e.get("sparkPlanInfo"))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                self._plan_metrics(e.get("sparkPlanInfo"))
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                self.sql.setdefault(e["executionId"], {"start": e["time"]})["end"] = e["time"]
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                self.driver_accums.append((e["executionId"], e["accumUpdates"]))
            elif kind.endswith("QueryStartedEvent"):
                self.stream_start[e["runId"]] = _iso_ms(e["timestamp"])
            elif kind.endswith("QueryProgressEvent"):
                self.progress.append(e["progress"])

    def _plan_metrics(self, info: dict | None) -> None:
        if not info:
            return
        for m in info.get("metrics", ()):
            self.acc_names[m["accumulatorId"]] = m["name"]
        for child in info.get("children", ()):
            self._plan_metrics(child)

    def pass_jobs(self, label: str) -> dict[int, dict]:
        prefix = label + "|"
        return {j: v for j, v in self.jobs.items() if v["span"].startswith(prefix)}

    def sql_s(self, jobs: dict[int, dict]) -> float:
        """Seconds covered by the SQL executions that ran ``jobs``."""
        ids = {v["sql"] for v in jobs.values() if v["sql"] is not None}
        return _union_s([(self.sql[i]["start"], self.sql[i].get("end", self.sql[i]["start"])) for i in ids if i in self.sql])

    def stream_runs(self, jobs: dict[int, dict]) -> tuple[list[dict], list[tuple[float, float]]]:
        """The progress events of the stream runs that ran ``jobs``, and
        each run's interval on the JVM clock: from its start to the end
        of its last trigger."""
        runs = {v["run"] for v in jobs.values() if v["run"]}
        prog = [p for p in self.progress if p["runId"] in runs]
        intervals = []
        for run in runs:
            ends = [(_iso_ms(p["timestamp"]), p["durationMs"].get("triggerExecution", 0)) for p in prog if p["runId"] == run]
            if ends:
                start = self.stream_start.get(run, min(t for t, _ in ends))
                intervals.append((start, max(t + d for t, d in ends)))
        return prog, intervals

    def query_layers(self, label: str, rec: dict) -> list[dict]:
        """Per query, its layers in seconds, each from its own source:
        the build span (benchmark timer), the sink's Catalyst phases
        (planning listener), the sink's SQL execution (event log), and
        the traced wall they should add up to (build plus execute span).
        """
        out = []
        for q in rec["queries"]:
            span = f"{label}|{q['name']}|exec"
            jobs = {j: v for j, v in self.jobs.items() if v["span"] == span}
            out.append(
                {
                    "name": q["name"],
                    "build_s": (q["t1"] - q["t0"]) / 1000.0,
                    "catalyst_s": planning_ms(q["sink_planning"]) / 1000.0,
                    "sql_s": self.sql_s(jobs),
                    "exec_span_s": (q["t3"] - q["t2"]) / 1000.0,
                }
            )
        return out

    def summarize(self, label: str, rec: dict) -> dict:
        """Per-layer metrics and counts of one traced pass.

        ``rec`` is the pass record the worker wrote: the pass wall and
        one entry per query with its span boundaries (ms), the py4j
        count of its build and the planning listener's records.
        """
        jobs = self.pass_jobs(label)
        eager_iv = [(v["start"], v.get("end", v["start"])) for v in jobs.values() if v["phase"] == "build"]
        prog, stream_iv = self.stream_runs(jobs)
        stages = [s for s, j in self.stage_job.items() if j in jobs and s in self.completed_stages]
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        tm = [t.get("Task Metrics") or {} for t in tasks]

        def tsum(f) -> float:
            return float(sum(f(m) for m in tm))

        skew_max, skew_med = 0.0, 0.0
        for s in stages:
            runs = [(t.get("Task Metrics") or {}).get("Executor Run Time", 0) for t in self.tasks.get(s, ())]
            if runs:
                skew_max += max(runs)
                skew_med += statistics.median(runs)

        acc = {}
        for t in tasks:
            for a in t["Task Info"].get("Accumulables", ()):
                # SQL metrics log their updates as decimal strings
                name, update = a.get("Name"), str(a.get("Update"))
                if name and update.lstrip("-").isdigit():
                    acc[name] = acc.get(name, 0) + int(update)
        py_tasks = sum(
            1
            for t in tasks
            if any(a.get("Name") == "data sent to Python workers" for a in t["Task Info"].get("Accumulables", ()))
        )
        sql_ids = {v["sql"] for v in jobs.values()}
        written_files = acc.get("number of written files", 0)
        for eid, updates in self.driver_accums:
            if eid in sql_ids:
                for acc_id, value in updates:
                    if self.acc_names.get(acc_id) == "number of written files":
                        written_files += value

        last: dict[str, dict] = {}
        for p in prog:
            last[p["runId"]] = p
        state_ops = [op for p in last.values() for op in p.get("stateOperators", ())]
        commit_ms = sum(
            p["durationMs"].get("walCommit", 0)
            + p["durationMs"].get("commitOffsets", 0)
            + sum(op.get("commitTimeMs", 0) for op in p.get("stateOperators", ()))
            for p in prog
        )

        queries = rec["queries"]
        planning = [r for q in queries for r in q["build_planning"] + q["sink_planning"]]
        layers = self.query_layers(label, rec)
        run_s = tsum(lambda m: m.get("Executor Run Time", 0)) / 1000.0
        metrics = {
            # the build spans less the driver jobs and stream runs inside them
            "plans.build_s": sum(x["build_s"] for x in layers) - _union_s(eager_iv + stream_iv),
            "plans.py4j_calls": sum(q["py4j"] for q in queries),
            "operators.build_jobs": len(eager_iv),
            "operators.build_job_s": _union_s(eager_iv),
            "catalyst.optimizer_ms": planning_ms(planning, ("optimization",)),
            "catalyst.planning_ms": planning_ms(planning, ("planning",)),
            # execute-span time neither the sink's Catalyst phases nor its
            # SQL execution covers: py4j round trips and driver work
            # between them
            "exec.untracked_s": sum(x["exec_span_s"] - x["catalyst_s"] - x["sql_s"] for x in layers),
            "exec.jobs": len(jobs),
            "exec.stages": len(stages),
            "exec.tasks": len(tasks),
            "exec.executor_run_s": run_s,
            "exec.executor_cpu_s": tsum(lambda m: m.get("Executor CPU Time", 0)) / 1e9,
            "exec.gc_s": tsum(lambda m: m.get("JVM GC Time", 0)) / 1000.0,
            "exec.busy_cores": run_s / rec["wall_s"],
            "exec.shuffle_read_mb": tsum(
                lambda m: m.get("Shuffle Read Metrics", {}).get("Remote Bytes Read", 0)
                + m.get("Shuffle Read Metrics", {}).get("Local Bytes Read", 0)
            )
            / MB,
            "exec.shuffle_write_mb": tsum(lambda m: m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)) / MB,
            "exec.fetch_wait_s": tsum(lambda m: m.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)) / 1000.0,
            "exec.spill_mb": tsum(lambda m: m.get("Disk Bytes Spilled", 0)) / MB,
            "exec.task_skew": skew_max / skew_med if skew_med else 1.0,
            "exec.peak_exec_mem_mb": max((m.get("Peak Execution Memory", 0) for m in tm), default=0) / MB,
            "pyudf.sent_mb": acc.get("data sent to Python workers", 0) / MB,
            "pyudf.returned_mb": acc.get("data returned from Python workers", 0) / MB,
            "pyudf.run_s": acc.get("time to run Python workers", 0) / 1000.0,
            "pyudf.tasks": py_tasks,
            "sources.read_mb": tsum(lambda m: m.get("Input Metrics", {}).get("Bytes Read", 0)) / MB,
            "sources.written_mb": tsum(lambda m: m.get("Output Metrics", {}).get("Bytes Written", 0)) / MB,
            "sources.written_files": written_files,
            "streaming.batches": len(prog),
            "streaming.run_s": _union_s(stream_iv),
            "streaming.state_rows": sum(op.get("numRowsTotal", 0) for op in state_ops),
            "streaming.state_mem_mb": sum(op.get("memoryUsedBytes", 0) for op in state_ops) / MB,
            "streaming.commit_ms": commit_ms,
            "streaming.rows_dropped_by_watermark": sum(
                op.get("numRowsDroppedByWatermark", 0) for p in prog for op in p.get("stateOperators", ())
            ),
        }
        return metrics


def additivity(layers: list[dict]) -> dict[str, float]:
    """Per query: (build + Catalyst + SQL execution) / traced wall.

    The three layers come from three sources (benchmark timer, planning
    listener, event log), so a layer that one source misses or counts
    twice moves the ratio away from 1.  The gap that remains is the
    driver time between the sink call and its SQL execution.
    """
    return {
        x["name"]: (x["build_s"] + x["catalyst_s"] + x["sql_s"]) / (x["build_s"] + x["exec_span_s"])
        for x in layers
    }
