"""Benchmark-side instrumentation: spans, process-tree RSS, Spark event log,
query-planning phases and codegen counters.

Nothing here touches library code.  Spans wrap the benchmark's calls into
the library's public functions; while tracing, each span labels its Spark
jobs with a job group, so the event log attributes jobs, tasks and SQL
metrics (through each SQL execution's jobs) back to the span that issued
them.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from pathlib import Path

PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------------- spans
@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float  # time.time() seconds
    end: float = 0.0
    action: bool = False  # the span ends with a Spark action returning to Python

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans in memory.  Every span is timed; only an enabled tracer
    keeps spans and labels Spark jobs with ``perfbench:<span id>`` groups."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.spark = None
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, action: bool = False):
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._next, name, parent.id if parent else None, self.run_id,
                  time.time(), action=action)
        self._next += 1
        self._stack.append(sp)
        self._label(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._label(parent)
            if self.enabled:
                self.spans.append(sp)

    def _label(self, sp: Span | None) -> None:
        if not (self.enabled and self.spark is not None):
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"perfbench:{sp.id}", sp.name)

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for sp in sorted(self.spans, key=lambda s: s.id):
                f.write(json.dumps({**asdict(sp), "self_s": self.self_seconds(sp)}) + "\n")

    def descendants(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            kids.setdefault(sp.parent, []).append(sp)
        out, todo = [], [root.id]
        while todo:
            for k in kids.get(todo.pop(), []):
                out.append(k)
                todo.append(k.id)
        return out

    def self_seconds(self, sp: Span) -> float:
        """Span duration minus the part of it its direct children cover."""
        kids = [k for k in self.spans if k.parent == sp.id]
        return sp.seconds - union_seconds([(k.start, k.end) for k in kids], sp.start, sp.end)


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --------------------------------------------------------------------- RSS
def proc_children() -> dict[int, list[int]]:
    """parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    return children


def _tree_rss_bytes(root_pid: int) -> int:
    children = proc_children()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20


# ------------------------------------------------------ query-plan phases
def plan_phases(df) -> dict[str, float]:
    """analysis / optimization / planning seconds of the DataFrame's own
    QueryExecution (read after its action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


class Codegen:
    """Deltas of Spark's CodegenMetrics (compile count and compile time)."""

    RESERVOIR = 1028  # codahale's default histogram reservoir

    def __init__(self, spark) -> None:
        cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._hist = cm.METRIC_COMPILATION_TIME()

    def read(self) -> tuple[int, float, float]:
        """(compiles so far, sum of kept compile ms, mean compile ms)."""
        snap = self._hist.getSnapshot()
        return self._hist.getCount(), float(sum(snap.getValues())), snap.getMean()

    @staticmethod
    def delta(before: tuple, after: tuple) -> tuple[int, float]:
        """(compiles, compile seconds) between two reads.  The histogram keeps
        every value while at most RESERVOIR were recorded; past that the
        seconds are estimated from the mean."""
        n = after[0] - before[0]
        if after[0] <= Codegen.RESERVOIR:
            return n, (after[1] - before[1]) / 1000.0
        return n, n * after[2] / 1000.0


def persistent_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


# --------------------------------------------------------------- event log
def eventlog_conf(log_dir: Path) -> dict[str, str]:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": str(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class JobRec:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0


@dataclass
class TaskRec:
    job_group: str | None
    busy_ms: int
    sched_delay_ms: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_records: int
    spill_bytes: int
    failed: bool
    py_sent: int
    py_recv: int


SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_DRIVER_ACC = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class EventLog:
    jobs: list[JobRec]
    tasks: list[TaskRec]
    plans: dict[int, dict]  # SQL execution id -> its final (post-AQE) plan
    exec_group: dict[int, str | None]  # SQL execution id -> job group
    acc: dict[int, int]  # SQL metric accumulator id -> total over tasks and driver


def read_eventlog(log_dir: Path) -> EventLog:
    jobs: dict[int, JobRec] = {}
    stage_group: dict[int, str | None] = {}
    tasks: list[TaskRec] = []
    plans: dict[int, dict] = {}
    exec_group: dict[int, str | None] = {}
    acc: dict[int, int] = {}
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        with f.open() as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = JobRec(e["Job ID"], group, e["Submission Time"])
                    for s in e["Stage IDs"]:
                        stage_group[s] = group
                    if props.get("spark.sql.execution.id") is not None:
                        exec_group[int(props["spark.sql.execution.id"])] = group
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(e, stage_group.get(e["Stage ID"])))
                    if e["Task End Reason"].get("Reason") == "Success":
                        for a in e["Task Info"].get("Accumulables", []):
                            if a.get("Metadata") == "sql":
                                acc[a["ID"]] = acc.get(a["ID"], 0) + int(a.get("Update") or 0)
                elif kind in (SQL_START, SQL_AQE):
                    plans[e["executionId"]] = e["sparkPlanInfo"]
                elif kind == SQL_DRIVER_ACC:
                    for i, v in e["accumUpdates"]:
                        acc[i] = acc.get(i, 0) + int(v)
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), tasks, plans,
                    exec_group, acc)


def plan_nodes(plan: dict):
    """The nodes of a logged plan, parents before children."""
    yield plan
    for c in plan["children"]:
        yield from plan_nodes(c)


def output_rows(node: dict, acc: dict[int, int]) -> int | None:
    """A plan node's ``number of output rows`` SQL metric, or None if it has none."""
    for m in node["metrics"]:
        if m["name"] == "number of output rows":
            return acc.get(m["accumulatorId"], 0)
    return None


def _task(e: dict, group: str | None) -> TaskRec:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    wall = info["Finish Time"] - info["Launch Time"]
    run = m.get("Executor Run Time", 0)
    overhead = (m.get("Executor Deserialize Time", 0) + m.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0))
    acc = {}
    for a in info.get("Accumulables", []):
        if a.get("Name") in (PY_SENT, PY_RECV):
            acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
    sw = m.get("Shuffle Write Metrics") or {}
    return TaskRec(
        job_group=group,
        busy_ms=run,
        sched_delay_ms=max(0, wall - run - overhead),
        gc_ms=m.get("JVM GC Time", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        shuffle_records=sw.get("Shuffle Records Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        failed=e["Task End Reason"].get("Reason") != "Success",
        py_sent=acc.get(PY_SENT, 0),
        py_recv=acc.get(PY_RECV, 0),
    )
