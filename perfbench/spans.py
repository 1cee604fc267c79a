"""Spans, streaming progress and Spark event-log attribution.

- ``Tracer`` records spans around the benchmark's calls into the package:
  name, start, end (epoch seconds), parent and the run id.
- ``ProgressListener`` is a ``StreamingQueryListener``: it keeps every
  query's progress events (``durationMs``, ``numInputRows``) and lets the
  caller wait until a stopped query's events have all been delivered.
- ``parse_event_log`` reads the plain-JSON event log that Spark writes when
  ``spark.eventLog.enabled=true`` (uncompressed, not rolling) and returns
  jobs with their stages and task metrics, and the file-writing SQL
  commands with the files and partition directories they wrote.
- ``op_breakdown`` attributes jobs and writes to operation windows by
  submission time and sums their metrics; ``layer_table`` turns nested
  spans into each layer's self time and the Spark work submitted inside it.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    """``path`` is the names from the outermost span down, joined by "/"."""

    path: str
    start: float
    end: float = 0.0

    @property
    def name(self) -> str:
        return self.path.rsplit("/", 1)[-1]

    @property
    def parent(self) -> str | None:
        return self.path.rsplit("/", 1)[0] if "/" in self.path else None

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(f"{self._stack[-1].path}/{name}" if self._stack else name, time.time())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, parent: Span) -> None:
        self.spans.append(Span(f"{parent.path}/{name}", start, end))

    def as_records(self) -> list[dict]:
        return [
            {"run": self.run_id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects progress events; ``drain(query_id)`` after a query stopped."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._progress: dict[str, list[dict]] = {}
        self._terminated: set[str] = set()
        self._started: list[str] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started.append(str(event.id))

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self._progress.setdefault(p["id"], []).append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.id))

    def last_started(self) -> str:
        with self._lock:
            return self._started[-1]

    def drain(self, query_id: str, timeout: float = 30.0) -> list[dict]:
        """Progress events of a stopped query; the listener bus is ordered,
        so once its termination event arrived, all of its progress has."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if query_id in self._terminated:
                    return self._progress.pop(query_id, [])
            time.sleep(0.01)
        raise TimeoutError(f"no termination event for streaming query {query_id}")


def data_batches(progress: list[dict]) -> list[dict]:
    """Micro-batches that ran the sink (idle triggers have no addBatch)."""
    return [p for p in progress if "addBatch" in p.get("durationMs", {})]


def batch_window(p: dict) -> tuple[float, float]:
    start = _epoch(p["timestamp"])
    return start, start + p["durationMs"]["triggerExecution"] / 1000.0


# -- event log ---------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float
    stage_ids: list[int] = field(default_factory=list)
    stages_run: int = 0
    tasks: int = 0
    task_intervals: list[tuple[float, float]] = field(default_factory=list)
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    bytes_written: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Write:
    """One ``InsertIntoHadoopFsRelationCommand``: the files and partition
    directories it wrote, from the driver-side write metrics. ``dynamic``
    marks a dynamic-partition overwrite, which replaces exactly the
    partition directories it wrote."""

    submit: float
    dynamic: bool
    files: int = 0
    partitions: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    writes: list[Write]


_WRITE_METRICS = {"number of written files": "files", "number of dynamic part": "partitions"}


def _plan_nodes(plan: dict):
    yield plan
    for child in plan["children"]:
        yield from _plan_nodes(child)


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return os.path.join(log_dir, files[0])


def parse_event_log(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    writes: dict[tuple[int, int], Write] = {}  # (execution id, nth write in plan)
    started: dict[int, float] = {}
    write_metric: dict[int, tuple[Write, str]] = {}  # accumulator id -> (write, field)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            # Adaptive re-planning re-issues the plan with new accumulators,
            # and the write reports its metrics on those of the final plan.
            if kind.endswith((".SparkListenerSQLExecutionStart", ".SparkListenerSQLAdaptiveExecutionUpdate")):
                eid = ev["executionId"]
                started.setdefault(eid, ev.get("time", 0) / 1000.0)
                nodes = [n for n in _plan_nodes(ev["sparkPlanInfo"])
                         if n["nodeName"] == "Execute InsertIntoHadoopFsRelationCommand"]
                for i, node in enumerate(nodes):
                    w = writes.setdefault((eid, i), Write(
                        started[eid], "partitionOverwriteMode=dynamic" in node["simpleString"]))
                    for m in node["metrics"]:
                        if m["name"] in _WRITE_METRICS:
                            write_metric[m["accumulatorId"]] = (w, _WRITE_METRICS[m["name"]])
            elif kind.endswith(".SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    if acc_id in write_metric:
                        w, name = write_metric[acc_id]
                        setattr(w, name, value)
            elif kind == "SparkListenerJobStart":
                j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, stage_ids=ev["Stage IDs"])
                jobs[j.job_id] = j
                for sid in j.stage_ids:
                    stage_job[sid] = j.job_id
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid].stages_run += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                info = ev["Task Info"]
                j.tasks += 1
                j.task_intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
                j.run_s += m["Executor Run Time"] / 1000.0
                j.cpu_s += m["Executor CPU Time"] / 1e9
                j.gc_s += m["JVM GC Time"] / 1000.0
                j.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                j.bytes_written += m["Output Metrics"]["Bytes Written"]
                j.input_bytes += m["Input Metrics"]["Bytes Read"]
                j.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit), list(writes.values()))


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Event-log timestamps are milliseconds; a job submitted in the same
# millisecond its window opened must still land inside it.
_SLACK_S = 0.002


def _within(items: list, start: float, end: float) -> list:
    return [x for x in items if start - _SLACK_S <= x.submit <= end + _SLACK_S]


def op_breakdown(log: EventLog, windows: list[tuple[float, float]], cores: int) -> dict:
    """Mean per-operation Spark metrics over the given (start, end) windows."""
    n = len(windows)
    acc = dict.fromkeys(
        ("jobs", "stages", "tasks", "driver_s", "cpu_s", "gc_s", "shuffle_bytes",
         "bytes_written", "input_bytes", "spill_bytes", "files_written",
         "partitions_replaced"), 0.0)
    run_s = wall_s = 0.0
    for start, end in windows:
        for w in _within(log.writes, start, end):
            acc["files_written"] += w.files
            acc["partitions_replaced"] += w.partitions if w.dynamic else 0
        js = _within(log.jobs, start, end)
        busy = _union_length(
            [(max(s, start), min(e, end)) for j in js for s, e in j.task_intervals if e > start and s < end]
        )
        wall_s += end - start
        run_s += sum(j.run_s for j in js)
        acc["jobs"] += len(js)
        acc["driver_s"] += (end - start) - busy
        for j in js:
            acc["stages"] += j.stages_run
            acc["tasks"] += j.tasks
            acc["cpu_s"] += j.cpu_s
            acc["gc_s"] += j.gc_s
            acc["shuffle_bytes"] += j.shuffle_bytes
            acc["bytes_written"] += j.bytes_written
            acc["input_bytes"] += j.input_bytes
            acc["spill_bytes"] += j.spill_bytes
    out = {k: v / n for k, v in acc.items()} if n else acc
    out["core_busy_ratio"] = run_s / (wall_s * cores) if wall_s else 0.0
    return out


def layer_table(spans: list[Span], jobs: list[Job]) -> dict[str, dict]:
    """Per span path: count, wall, self time (wall minus the part its child
    spans cover) and the Spark work of the jobs submitted inside the span's
    own window, each job going to the innermost span that contains it."""
    rows: dict[str, dict] = {}
    for s in spans:
        child = sum(
            c.wall for c in spans
            if c.parent == s.path and c.start >= s.start and c.end <= s.end
        )
        row = rows.setdefault(s.path, dict.fromkeys(
            ("count", "wall_s", "self_s", "jobs", "tasks", "task_run_s", "cpu_s",
             "shuffle_bytes", "bytes_written"), 0))
        row["count"] += 1
        row["wall_s"] += s.wall
        row["self_s"] += s.wall - child
    for j in jobs:
        inner = [s for s in spans if s.start - _SLACK_S <= j.submit <= s.end + _SLACK_S]
        if inner:
            row = rows[min(inner, key=lambda s: s.wall).path]
            row["jobs"] += 1
            row["tasks"] += j.tasks
            row["task_run_s"] += j.run_s
            row["cpu_s"] += j.cpu_s
            row["shuffle_bytes"] += j.shuffle_bytes
            row["bytes_written"] += j.bytes_written
    return rows
