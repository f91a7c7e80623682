"""Measurement from outside the program: process-tree sampling, spans, and
per-layer metrics read back from Spark's event log.

Nothing here imports the package under test. The event log is Spark's own
JSON-lines listener log (``spark.eventLog.enabled``), written by the
benchmark's session and parsed after the session stops.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
from collections import defaultdict
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")
HZ = os.sysconf("SC_CLK_TCK") or 100

# SQL plan nodes that ship rows to Python workers
PYTHON_NODES = ("Python", "Pandas", "MapInArrow", "PythonUDTF")


# --------------------------------------------------------------- processes


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, cpu jiffies incl. reaped children, comm)."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                st = f.read()
        except OSError:
            continue
        comm = st[st.index("(") + 1:st.rindex(")")]
        rest = st[st.rindex(")") + 2:].split()
        procs[int(pid)] = (
            int(rest[1]),
            int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14]),
            comm,
        )
    return procs


def _subtree(procs: dict[int, tuple[int, int, str]], root: int) -> set[int]:
    children = defaultdict(list)
    for pid, (ppid, _, _) in procs.items():
        children[ppid].append(pid)
    mine, todo = set(), [root]
    while todo:
        p = todo.pop()
        if p not in mine:
            mine.add(p)
            todo.extend(children.get(p, ()))
    return mine


def cpu_snapshot() -> tuple[int, int]:
    """(busy jiffies of the whole machine, jiffies of this process tree).
    The difference of two snapshots is the CPU that other tenants used
    while the benchmark ran."""
    with open("/proc/stat") as f:
        parts = f.readline().split()[1:]
    busy = sum(int(parts[i]) for i in (0, 1, 2, 5, 6, 7) if i < len(parts))
    procs = _proc_table()
    own = sum(procs[p][1] for p in _subtree(procs, os.getpid()) if p in procs)
    return busy, own


class TreeSampler:
    """Background thread sampling the RSS of this process and all of its
    descendants (the driver JVM and its Python workers), keeping the peak,
    and counting Python worker processes. Call ``stop`` before exit."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_rss = 0
        self.max_py_workers = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def stop(self) -> None:
        self._halt.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        procs = _proc_table()
        me = os.getpid()
        rss = workers = 0
        for pid in _subtree(procs, me):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss += int(f.read().split()[1]) * PAGE
            except OSError:
                continue
            if pid != me and procs[pid][2].startswith("python"):
                workers += 1
        self.peak_rss = max(self.peak_rss, rss)
        self.max_py_workers = max(self.max_py_workers, workers)

    def _run(self) -> None:
        while not self._halt.is_set():
            self.sample()
            self._halt.wait(self.period_s)


# ------------------------------------------------------------------ spans


class Spans:
    """In-memory span list: (id, parent, trace, name, start, end, attrs).
    Times are epoch seconds. Written once, by ``dump``."""

    def __init__(self):
        self.items: list[dict] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, trace: str | None = None,
            **attrs) -> int:
        sid = len(self.items)
        self.items.append({
            "id": sid, "parent": parent, "trace": trace, "name": name,
            "start": start, "end": end, "attrs": attrs,
        })
        return sid

    def self_times(self) -> dict[str, float]:
        """Total self time per span kind (the part of the first word of the
        name before ':'): duration minus the part of it that children
        cover."""
        kids = defaultdict(list)
        for s in self.items:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.items:
            covered = union_length(
                [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in kids.get(s["id"], ())]
            )
            out[s["name"].split(":")[0]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"summary": summary,
                       "self_time_s": self.self_times(),
                       "spans": self.items}, f)


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    start: float
    end: float = 0.0
    group: str = ""
    batch_id: int | None = None
    execution: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Stage:
    id: int
    start: float = 0.0
    end: float = 0.0
    accums: dict[int, float] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)


class EventLog:
    """The parts of a Spark event log the layer metrics need."""

    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.metric_of: dict[int, tuple[str, str]] = {}  # accum -> (name, node)
        # SQL execution id -> accumulator id -> driver-side metric value
        self.driver_accums: dict[int, dict[int, float]] = defaultdict(
            lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, info: dict) -> None:
        node = info.get("nodeName", "")
        for m in info.get("metrics", ()):
            self.metric_of[m["accumulatorId"]] = (m["name"], node)
        for child in info.get("children", ()):
            self._plan(child)

    def _stage(self, sid: int) -> Stage:
        return self.stages.setdefault(sid, Stage(sid))

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            bid = props.get("streaming.sql.batchId")
            xid = props.get("spark.sql.execution.id")
            self.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id") or "",
                batch_id=int(bid) if bid is not None else None,
                execution=int(xid) if xid is not None else None,
                stages=list(ev.get("Stage IDs", ())),
            )
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(ev["Job ID"])
            if job:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            st = self._stage(info["Stage ID"])
            st.start = info.get("Submission Time", 0) / 1000.0
            st.end = info.get("Completion Time", 0) / 1000.0
            for acc in info.get("Accumulables", ()):
                try:
                    st.accums[acc["ID"]] = float(acc["Value"])
                except (KeyError, TypeError, ValueError):
                    pass
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if tm:
                self._stage(ev["Stage ID"]).tasks.append(tm)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(ev.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            updates = self.driver_accums[ev["executionId"]]
            for acc_id, value in ev.get("accumUpdates", ()):
                updates[acc_id] += value

    def jobs_where(self, pred) -> list[Job]:
        return [j for j in self.jobs.values() if pred(j)]


def _task_rows_read(tm: dict) -> int:
    return (tm.get("Input Metrics", {}).get("Records Read", 0)
            + tm.get("Shuffle Read Metrics", {}).get("Total Records Read", 0))


def _shuffle_read(tm: dict) -> int:
    sr = tm.get("Shuffle Read Metrics", {})
    return sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)


def job_metrics(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """exec / exchange / sources / sinks / pyworker totals over ``jobs``."""
    stage_ids = {s for j in jobs for s in j.stages if s in log.stages}
    stages = [log.stages[s] for s in stage_ids]
    tasks = [t for st in stages for t in st.tasks]
    run_s = sum(t.get("Executor Run Time", 0) for t in tasks) / 1000.0
    skew = 1.0
    for st in stages:
        reads = [_shuffle_read(t) for t in st.tasks]
        if len(reads) >= 2 and sum(reads) > 0:
            skew = max(skew, max(reads) / max(statistics.median(reads), 1.0))
    py_ids = {a for a, (_, node) in log.metric_of.items()
              if any(k in node for k in PYTHON_NODES)}
    py_stages = [st for st in stages if py_ids & st.accums.keys()]

    def py_metric(name: str) -> float:
        return sum(v for st in py_stages for a, v in st.accums.items()
                   if a in py_ids and log.metric_of[a][0] == name)

    write_jobs = [
        j for j in jobs
        if any(t.get("Output Metrics", {}).get("Bytes Written", 0) > 0
               for s in j.stages if s in log.stages
               for t in log.stages[s].tasks)
    ]
    return {
        "exec.jobs": len(jobs),
        "exec.tasks": len(tasks),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": sum(
            t.get("Executor CPU Time", 0) for t in tasks) / 1e9,
        "exec.gc_s": sum(t.get("JVM GC Time", 0) for t in tasks) / 1000.0,
        "exec.empty_tasks": sum(1 for t in tasks if _task_rows_read(t) == 0),
        "exchange.shuffle_write_bytes": sum(
            t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            for t in tasks),
        "exchange.shuffle_read_bytes": sum(_shuffle_read(t) for t in tasks),
        "exchange.spill_bytes": sum(
            t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0)
            for t in tasks),
        "exchange.fetch_wait_s": sum(
            t.get("Shuffle Read Metrics", {}).get("Fetch Wait Time", 0)
            for t in tasks) / 1000.0,
        "exchange.skew_ratio": skew,
        "sources.input_bytes": sum(
            t.get("Input Metrics", {}).get("Bytes Read", 0) for t in tasks),
        "sources.input_rows": sum(
            t.get("Input Metrics", {}).get("Records Read", 0) for t in tasks),
        "sinks.bytes_written": sum(
            t.get("Output Metrics", {}).get("Bytes Written", 0) for t in tasks),
        "sinks.write_job_s": union_length(
            [(j.start, j.end) for j in write_jobs if j.end]),
        "pyworker.bytes_to_python": py_metric("data sent to Python workers"),
        "pyworker.bytes_from_python": py_metric(
            "data returned from Python workers"),
        "pyworker.rows": py_metric("number of output rows"),
        "pyworker.stage_s": sum(st.end - st.start for st in py_stages),
    }


def driver_metric(log: EventLog, jobs: list[Job], name: str) -> float:
    """Sum of a driver-side SQL metric (files read, files written) over the
    SQL executions that ran ``jobs``."""
    executions = {j.execution for j in jobs if j.execution is not None}
    return sum(v for x in executions
               for a, v in log.driver_accums.get(x, {}).items()
               if log.metric_of.get(a, ("",))[0] == name)


def find_event_log(directory: str) -> str:
    logs = [os.path.join(directory, f) for f in os.listdir(directory)
            if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}: {logs}")
    return logs[0]

