"""Spark event-log reader for the traced benchmark run.

Reads the JSON-lines event log Spark writes with ``spark.eventLog.enabled``
and attributes its counters to the benchmark's spans.  Pure Python over the
public event schema; nothing here talks to Spark, so the unit tests feed it
hand-written events.

Attribution rules:

- A job belongs to the innermost span open at its submission time.  When
  spans on several threads are open at that moment (``refresh()`` advances
  its components on a thread pool), the latest-started one wins.  One client
  with one operation in flight makes this exact at the operation level; job
  groups are not used because pool threads do not inherit them.
- A stage belongs to the span of the job that submitted it; its tasks carry
  the executor counters.
- A SQL metric is an accumulator.  The SQL plans (including adaptive
  re-plans) map accumulator ids to plan nodes, so task accumulator updates
  sum per node kind and per stage.
"""

from __future__ import annotations

import bisect
import json
import math
from dataclasses import dataclass, field

AGGREGATE_NODES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
SCAN_PREFIXES = ("Scan ", "FileScan", "InMemoryTableScan", "LocalTableScan")
EXCHANGE_NODES = ("Exchange", "BroadcastExchange")


@dataclass
class Span:
    id: int
    parent: int | None
    layer: str
    name: str
    op: int | None  # id of the operation span this span belongs to
    start_ms: float
    end_ms: float
    thread: int = 0
    attrs: dict = field(default_factory=dict)


@dataclass
class Task:
    run_ms: float
    cpu_ms: float
    gc_ms: float
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    accums: dict  # accumulator id -> update (number)


@dataclass
class Stage:
    id: int
    job: int | None = None
    tasks: list = field(default_factory=list)


@dataclass
class Job:
    id: int
    submit_ms: float
    end_ms: float | None = None
    execution: int | None = None
    stage_ids: list = field(default_factory=list)


@dataclass
class Execution:
    id: int
    start_ms: float
    plan: dict | None = None  # latest sparkPlanInfo (adaptive updates win)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []) or []:
        yield from _walk(child)


def node_kind(node_name: str) -> str:
    """Plan node name without its codegen/scan suffix, e.g.
    ``Scan parquet`` -> ``Scan``, ``WholeStageCodegen (3)`` ->
    ``WholeStageCodegen``."""
    name = node_name.strip()
    if name.startswith(SCAN_PREFIXES):
        return "Scan"
    return name.split(" (")[0].split(" ")[0]


def plan_counts(plan: dict | None) -> tuple[int, int]:
    """(scans, exchanges) in one physical plan.  A reused exchange counts as
    an exchange node: the plan still names it, but it moves no extra data."""
    if plan is None:
        return 0, 0
    scans = exchanges = 0
    for node in _walk(plan):
        name = node.get("nodeName", "")
        if node_kind(name) == "Scan":
            scans += 1
        elif name in EXCHANGE_NODES or name == "ReusedExchange":
            exchanges += 1
    return scans, exchanges


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, events):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.executions: dict[int, Execution] = {}
        # accumulator id -> (plan node name, metric name, metric type); ids
        # are unique within an application
        self.acc_nodes: dict[int, tuple[str, str, str]] = {}
        for e in events:
            self._add(e)

    @classmethod
    def from_file(cls, path: str) -> "EventLog":
        def events():
            with open(path) as f:
                for line in f:
                    try:
                        yield json.loads(line)
                    except ValueError:
                        continue  # a truncated last line of a live log
        return cls(events())

    def _execution(self, eid: int, start_ms: float = 0.0) -> Execution:
        ex = self.executions.get(eid)
        if ex is None:
            ex = self.executions[eid] = Execution(eid, start_ms)
        return ex

    def _index_plan(self, plan: dict) -> None:
        for node in _walk(plan):
            for m in node.get("metrics", []) or []:
                self.acc_nodes[int(m["accumulatorId"])] = (
                    node.get("nodeName", ""), m.get("name", ""), m.get("metricType", ""))

    def _add(self, e: dict) -> None:
        ev = e.get("Event", "")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            eid = props.get("spark.sql.execution.id")
            job = Job(int(e["Job ID"]), _num(e.get("Submission Time")),
                      execution=int(eid) if eid not in (None, "") else None,
                      stage_ids=list(e.get("Stage IDs", [])))
            self.jobs[job.id] = job
            for sid in job.stage_ids:
                self.stages.setdefault(sid, Stage(sid)).job = job.id
        elif ev == "SparkListenerJobEnd":
            job = self.jobs.get(int(e["Job ID"]))
            if job is not None:
                job.end_ms = _num(e.get("Completion Time"))
        elif ev == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            accums = {}
            for a in (e.get("Task Info") or {}).get("Accumulables", []) or []:
                if "ID" in a and "Update" in a:
                    accums[int(a["ID"])] = _num(a["Update"])
            task = Task(
                run_ms=_num(tm.get("Executor Run Time")),
                cpu_ms=_num(tm.get("Executor CPU Time")) / 1e6,
                gc_ms=_num(tm.get("JVM GC Time")),
                shuffle_read_bytes=int(_num(sr.get("Remote Bytes Read"))
                                       + _num(sr.get("Local Bytes Read"))),
                shuffle_write_bytes=int(_num(sw.get("Shuffle Bytes Written"))),
                spill_bytes=int(_num(tm.get("Disk Bytes Spilled"))),
                accums=accums,
            )
            sid = int(e["Stage ID"])
            self.stages.setdefault(sid, Stage(sid)).tasks.append(task)
        elif ev.endswith("SparkListenerSQLExecutionStart"):
            ex = self._execution(int(e["executionId"]), _num(e.get("time")))
            ex.start_ms = _num(e.get("time"))
            if e.get("sparkPlanInfo"):
                ex.plan = e["sparkPlanInfo"]
                self._index_plan(ex.plan)
        elif ev.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = self._execution(int(e["executionId"]))
            if e.get("sparkPlanInfo"):
                ex.plan = e["sparkPlanInfo"]
                self._index_plan(ex.plan)
        elif ev.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []) or []:
                self.acc_nodes.setdefault(int(m["accumulatorId"]),
                                          ("", m.get("name", ""), m.get("metricType", "")))

    # ---- queries ----

    def stage_node_kinds(self, stage: Stage) -> set[str]:
        """Kinds of the plan nodes whose SQL metrics this stage's tasks
        updated — the operators that actually ran in the stage (codegen
        fuses them, so the stage's RDD scopes do not show them)."""
        kinds = set()
        for t in stage.tasks:
            for acc in t.accums:
                hit = self.acc_nodes.get(acc)
                if hit is not None and hit[0]:
                    kinds.add(node_kind(hit[0]))
        return kinds

    def sql_metric(self, stages, kinds, metric: str) -> float:
        """Sum of SQL metric ``metric`` over nodes whose kind is in ``kinds``,
        from the task updates of ``stages``; nanosecond timings are read in
        milliseconds."""
        total = 0.0
        for st in stages:
            for t in st.tasks:
                for acc, val in t.accums.items():
                    hit = self.acc_nodes.get(acc)
                    if hit is not None and node_kind(hit[0]) in kinds and hit[1] == metric:
                        total += val / 1e6 if hit[2] == "nsTiming" else val
        return total


def attribute(spans: list[Span], times: list[float]) -> list[int | None]:
    """For each timestamp, the id of the innermost span open at that moment:
    among the open spans, the latest-started one (nested spans start after
    their parents, so the latest start is the deepest)."""
    order = sorted(spans, key=lambda s: s.start_ms)
    starts = [s.start_ms for s in order]
    out = []
    for t in times:
        best = None
        for s in reversed(order[:bisect.bisect_right(starts, t)]):
            if s.end_ms >= t:
                best = s.id
                break
        out.append(best)
    return out


def union_intervals(intervals) -> float:
    """Length covered by the union of (lo, hi) intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans (the
    union, so concurrent children are not subtracted twice)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start_ms, s.end_ms))
    out = {}
    for s in spans:
        covered = union_intervals(
            (max(lo, s.start_ms), min(hi, s.end_ms))
            for lo, hi in kids.get(s.id, []) if hi > s.start_ms and lo < s.end_ms
        )
        out[s.id] = max(0.0, (s.end_ms - s.start_ms) - covered)
    return out


def union_ms(spans: list[Span]) -> float:
    """Wall time covered by any of ``spans`` (nested or concurrent spans of
    one layer count once)."""
    return union_intervals((s.start_ms, s.end_ms) for s in spans)


def tail_percentile(samples, min_beyond: int = 10):
    """The highest whole percentile with at least ``min_beyond`` samples
    above its nearest-rank value: ``(percentile, value, n)``, or ``None``
    when no percentile from 1 up has that many samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p / 100 * n)
        if n - rank >= min_beyond:
            return p, xs[rank - 1], n
    return None


def median(samples) -> float | None:
    xs = sorted(samples)
    if not xs:
        return None
    mid = len(xs) // 2
    return xs[mid] if len(xs) % 2 else (xs[mid - 1] + xs[mid]) / 2
