"""Reduce Spark's built-in event log to per-call figures.

The benchmark sets one Spark job group per timed call (``setJobGroup``) and
records the call's wall-clock span itself. Spark's event log then supplies
the child spans: every job, stage and task carries the job group in its
properties, so each call's jobs, SQL executions (actions) and task metrics
can be attributed without instrumenting the program.

The reader handles both layouts Spark writes: a single ``<appId>`` file and
the rolling ``eventlog_v2_<appId>/events_<n>_<appId>`` directory (files
read in ``n`` order). Logs must be uncompressed
(``spark.eventLog.compress=false``). Adaptive-execution plan updates make
up most of a log's bytes and carry nothing used here, so their lines are
skipped before JSON decoding.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
_WANTED = {
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerStageSubmitted",
    "SparkListenerTaskEnd",
    "SparkListenerBlockUpdated",
    _SQL + "SparkListenerSQLExecutionStart",
    _SQL + "SparkListenerSQLExecutionEnd",
}
_EVENT_RE = re.compile(r'^\{"Event":"([^"]+)"')
_PYTHON_TIME = "time to run Python workers"

# Action classes, from the name of the action's result stage
# ("<method> at <callsite>").
CHECKPOINT = "checkpoint"
SIZING = "sizing"
CONVERGENCE = "convergence"
WRITE = "write"
OTHER = "other"
_CLASSES = [
    (re.compile(r"^(localCheckpoint|checkpoint)$"), CHECKPOINT),
    (re.compile(r"^count$"), SIZING),
    (re.compile(r"^(first|head|take|collect\w*|toPandas|toLocalIterator\w*)$"), CONVERGENCE),
    (re.compile(r"^(save\w*|parquet|csv|json|orc|text|insertInto)$"), WRITE),
]


def classify(stage_name: str) -> str:
    """Action class of a result stage named ``"<method> at <callsite>"``."""
    method = stage_name.split(" at ", 1)[0].strip()
    for pattern, cls in _CLASSES:
        if pattern.match(method):
            return cls
    return OTHER


def event_files(log_dir: str) -> list[str]:
    """Event-log files under ``log_dir`` in write order."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        elif os.path.isfile(path) and not entry.startswith(".") and not entry.endswith(
            (".inprogress", ".crc")
        ):
            out.append(path)
    return out


def iter_events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                m = _EVENT_RE.match(line)
                if m and m.group(1) in _WANTED:
                    yield json.loads(line)


@dataclass
class Job:
    id: int
    group: str | None
    execution: int | None
    start: float
    end: float | None = None
    result_stage: str = ""


@dataclass
class Action:
    """A root SQL execution: one DataFrame action."""

    id: int
    group: str | None
    description: str
    start: float
    end: float | None = None
    jobs: list[int] = field(default_factory=list)
    cls: str = OTHER


@dataclass
class Task:
    stage: int
    scan: bool  # the stage reads files (its RDDs include a FileScanRDD)
    run_ms: float
    cpu_ms: float
    gc_ms: float
    input_bytes: int
    output_bytes: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    spill_bytes: int
    python_ms: float


@dataclass
class Trace:
    jobs: dict[int, Job] = field(default_factory=dict)
    actions: dict[int, Action] = field(default_factory=dict)
    stage_group: dict[int, str | None] = field(default_factory=dict)
    scan_stages: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)
    block_bytes: dict[int, int] = field(default_factory=dict)  # job id -> rdd bytes stored


def _props(event: dict) -> dict:
    return event.get("Properties") or {}


def _python_ms(task_info: dict) -> float:
    for acc in task_info.get("Accumulables", []):
        if acc.get("Name") == _PYTHON_TIME:
            return float(acc.get("Update") or 0)  # a millisecond timing metric
    return 0.0


def reduce_events(events: Iterable[dict]) -> Trace:
    tr = Trace()
    root_of: dict[int, int] = {}
    running: list[int] = []
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            p = _props(e)
            ex = p.get("spark.sql.execution.id")
            stages = e.get("Stage Infos", [])
            result = max(stages, key=lambda s: s["Stage ID"])["Stage Name"] if stages else ""
            job = Job(e["Job ID"], p.get("spark.jobGroup.id"),
                      int(ex) if ex is not None else None, e["Submission Time"],
                      result_stage=result)
            tr.jobs[job.id] = job
            running.append(job.id)
            if job.execution is not None:
                act = tr.actions.get(root_of.get(job.execution, job.execution))
                if act is not None:
                    act.jobs.append(job.id)
                    if act.group is None:
                        act.group = job.group
        elif kind == "SparkListenerJobEnd":
            job = tr.jobs.get(e["Job ID"])
            if job is not None:
                job.end = e["Completion Time"]
                if job.id in running:
                    running.remove(job.id)
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            tr.stage_group[info["Stage ID"]] = _props(e).get("spark.jobGroup.id")
            if any(r.get("Name") == "FileScanRDD" for r in info.get("RDD Info", [])):
                tr.scan_stages.add(info["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            tr.tasks.append(Task(
                stage=e["Stage ID"],
                scan=e["Stage ID"] in tr.scan_stages,
                run_ms=m.get("Executor Run Time", 0),
                cpu_ms=m.get("Executor CPU Time", 0) / 1e6,
                gc_ms=m.get("JVM GC Time", 0),
                input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
                output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
                shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                spill_bytes=m.get("Disk Bytes Spilled", 0),
                python_ms=_python_ms(e.get("Task Info") or {}),
            ))
        elif kind == "SparkListenerBlockUpdated":
            info = e.get("Block Updated Info") or {}
            size = info.get("Memory Size", 0) + info.get("Disk Size", 0)
            if running and size > 0 and str(info.get("Block ID", "")).startswith("rdd_"):
                jid = running[-1]
                tr.block_bytes[jid] = tr.block_bytes.get(jid, 0) + size
        elif kind == _SQL + "SparkListenerSQLExecutionStart":
            eid = e["executionId"]
            root = e.get("rootExecutionId", eid)
            if root is None or root < 0:
                root = eid
            root_of[eid] = root
            if root == eid:
                tr.actions[eid] = Action(eid, e.get("jobGroupId"), e.get("description", ""),
                                         e["time"])
        elif kind == _SQL + "SparkListenerSQLExecutionEnd":
            act = tr.actions.get(e["executionId"])
            if act is not None:
                act.end = e["time"]
    for act in tr.actions.values():
        # Under adaptive execution most of an action's jobs materialise
        # query stages; the job that names the action is the one whose
        # result stage carries the action's method.
        classes = [c for c in (classify(tr.jobs[j].result_stage) for j in act.jobs) if c != OTHER]
        act.cls = classes[-1] if classes else classify(act.description)
    return tr


def read_trace(log_dir: str) -> Trace:
    return reduce_events(iter_events(event_files(log_dir)))


def union_ms(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end] intervals."""
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


def _clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Figures:
    """Additive figures of a set of calls (all times in seconds)."""

    wall_s: float = 0.0
    job_s: float = 0.0
    actions: int = 0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    scan_task_s: float = 0.0
    spill_mb: float = 0.0
    python_s: float = 0.0
    supersteps: int = 0
    sizing_actions: int = 0
    convergence_actions: int = 0
    checkpoint_s: float = 0.0
    checkpoint_mb: float = 0.0
    task_ms: list[float] = field(default_factory=list)
    superstep_ms: list[float] = field(default_factory=list)
    superstep_gap_ms: list[float] = field(default_factory=list)

    @property
    def driver_gap_s(self) -> float:
        return self.wall_s - self.job_s

    def add(self, other: Figures) -> None:
        for name, value in vars(other).items():
            setattr(self, name, getattr(self, name) + value)


def call_figures(tr: Trace, group: str, start_ms: float, end_ms: float,
                 output_group: str | None = None) -> Figures:
    """Figures of one call: the jobs, actions and tasks of job group
    ``group`` (plus ``output_group``, whose actions are the benchmark's
    own result collection and are never classified as convergence or
    sizing actions), against the call's wall span [start_ms, end_ms]."""
    groups = {group} if output_group is None else {group, output_group}
    f = Figures(wall_s=(end_ms - start_ms) / 1e3)
    jobs = [j for j in tr.jobs.values() if j.group in groups]
    spans = _clip([(j.start, j.end if j.end is not None else end_ms) for j in jobs],
                  start_ms, end_ms)
    f.job_s = union_ms(spans) / 1e3
    f.jobs = len(jobs)
    stages = {s for s, g in tr.stage_group.items() if g in groups}
    f.stages = len(stages)
    for t in tr.tasks:
        if t.stage not in stages:
            continue
        f.tasks += 1
        f.task_ms.append(t.run_ms)
        f.task_run_s += t.run_ms / 1e3
        f.task_cpu_s += t.cpu_ms / 1e3
        f.gc_s += t.gc_ms / 1e3
        f.shuffle_write_mb += t.shuffle_write_bytes / 2**20
        f.shuffle_read_mb += t.shuffle_read_bytes / 2**20
        f.output_mb += t.output_bytes / 2**20
        f.spill_mb += t.spill_bytes / 2**20
        f.python_s += t.python_ms / 1e3
        if t.scan:
            f.input_mb += t.input_bytes / 2**20
            if t.input_bytes > 0:
                f.scan_task_s += t.run_ms / 1e3
    acts = [a for a in tr.actions.values() if a.group in groups]
    f.actions = len(acts)
    ends = []
    for a in acts:
        if a.group != group:
            continue
        if a.cls == SIZING:
            f.sizing_actions += 1
        elif a.cls == CONVERGENCE:
            f.convergence_actions += 1
        elif a.cls == CHECKPOINT:
            f.supersteps += 1
            a_end = a.end if a.end is not None else end_ms
            f.checkpoint_s += (a_end - a.start) / 1e3
            f.checkpoint_mb += sum(tr.block_bytes.get(j, 0) for j in a.jobs) / 2**20
            ends.append(a_end)
    ends.sort()
    for lo, hi in zip(ends, ends[1:]):
        f.superstep_ms.append(hi - lo)
        f.superstep_gap_ms.append((hi - lo) - union_ms(_clip(spans, lo, hi)))
    return f


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
