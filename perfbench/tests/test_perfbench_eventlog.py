"""Unit tests of the benchmark's event-log reader, on hand-written events."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from eventlog import (EventLog, Span, attribute, median, node_kind,  # noqa: E402
                      plan_counts, self_ms, tail_percentile)


def _plan(name, metrics=(), children=()):
    return {"nodeName": name, "metrics": [{"name": n, "accumulatorId": a, "metricType": "sum"}
                                          for n, a in metrics],
            "children": list(children)}


PLAN = _plan("AdaptiveSparkPlan", children=[
    _plan("HashAggregate", [("time in aggregation build", 11), ("number of output rows", 12)], [
        _plan("Exchange", [("shuffle records written", 13)], [
            _plan("MapInPandas", [("time to run Python workers", 14)], [
                _plan("Scan parquet ", [("number of files read", 15)]),
            ]),
        ]),
    ]),
    _plan("BroadcastExchange", children=[_plan("Scan parquet ")]),
])


def _task(stage, accums, run=10, cpu_ns=5e6, sw=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [{"ID": a, "Update": str(v)} for a, v in accums]},
            "Task Metrics": {"Executor Run Time": run, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 1, "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 3},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": sw}}}


EVENTS = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "time": 1000, "sparkPlanInfo": _plan("AdaptiveSparkPlan")},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
     "executionId": 0, "sparkPlanInfo": PLAN},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1005,
     "Stage IDs": [0, 1], "Properties": {"spark.sql.execution.id": "0"}},
    _task(0, [(14, 40), (13, 7)], run=10, sw=100),
    _task(0, [(14, 60), (13, 3)], run=30, sw=50),
    _task(1, [(11, 5), (12, 2)], run=20),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1100},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2005, "Stage IDs": [2]},
]


def test_reads_jobs_stages_tasks_and_plans():
    log = EventLog(EVENTS)
    assert sorted(log.jobs) == [0, 1]
    assert log.jobs[0].execution == 0 and log.jobs[0].end_ms == 1100
    assert len(log.stages[0].tasks) == 2 and log.stages[1].job == 0
    assert log.stages[0].tasks[0].cpu_ms == 5.0
    assert log.stages[0].tasks[0].shuffle_read_bytes == 3
    # the adaptive update replaces the initial plan
    assert log.executions[0].plan is PLAN


def test_sums_sql_metrics_by_node_kind():
    log = EventLog(EVENTS)
    s0, s1 = log.stages[0], log.stages[1]
    assert log.stage_node_kinds(s0) == {"MapInPandas", "Exchange"}
    assert log.stage_node_kinds(s1) == {"HashAggregate"}
    assert log.sql_metric([s0, s1], {"MapInPandas"}, "time to run Python workers") == 100
    assert log.sql_metric([s0, s1], {"HashAggregate"}, "time in aggregation build") == 5
    assert log.sql_metric([s0], {"Exchange"}, "shuffle records written") == 10
    # a metric of another node kind is not counted
    assert log.sql_metric([s0, s1], {"Exchange"}, "time to run Python workers") == 0


def test_counts_scans_and_exchanges_per_plan():
    assert plan_counts(PLAN) == (2, 2)
    assert plan_counts(None) == (0, 0)
    assert node_kind("Scan parquet ") == "Scan"
    assert node_kind("WholeStageCodegen (3)") == "WholeStageCodegen"


def _span(i, parent, start, end, layer="x"):
    return Span(i, parent, layer, f"s{i}", 0, start, end)


def test_attributes_by_submission_time_to_innermost_span():
    spans = [_span(0, None, 0, 100), _span(1, 0, 10, 50), _span(2, 1, 20, 30),
             # two pool threads with overlapping spans: the later start wins
             _span(3, 0, 60, 90), _span(4, 0, 65, 80)]
    assert attribute(spans, [5, 15, 25, 55, 62, 70, 85, 200]) == [0, 1, 2, 0, 3, 4, 3, None]


def test_self_time_subtracts_union_of_children():
    spans = [_span(0, None, 0, 100), _span(1, 0, 10, 40), _span(2, 0, 30, 60),
             _span(3, 1, 15, 20)]
    st = self_ms(spans)
    assert st[0] == 50  # children cover [10, 60]
    assert st[1] == 25
    assert st[3] == 5


def test_tail_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    p, v, n = tail_percentile(xs)
    assert (p, v, n) == (90, 90, 100)
    assert sum(x > v for x in xs) >= 10
    p, v, n = tail_percentile(list(range(30)))
    assert p == 66 and sum(x > v for x in range(30)) == 10
    assert tail_percentile(list(range(10))) is None
    assert median([3, 1, 2]) == 2 and median([1, 2, 3, 4]) == 2.5 and median([]) is None
