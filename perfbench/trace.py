"""Spans around the calls into each engine layer, and the per-layer counters
built from them.

The traced run wraps the public entry points of each layer module (the
benchmark's own code; the engine is not changed) so every call records a
span.  Spans stay in memory and are written when the run ends.  Spark's
event log supplies the counters, attributed to spans by ``eventlog``.

Layers are named after the modules they come from.  ``operators.rollup``,
``compress`` and ``operators.resample`` only build lazy plans, so their
spans take no Spark jobs; their share of a job's work is split out of the
span that ran the job by the plan nodes each stage executed:

- a stage that ran ``MapInPandas`` belongs to ``compress`` (the Gorilla
  codec is the only pandas kernel on these paths);
- in an operation that called ``operators.resample``, a stage that ran a
  ``Window`` or ``Generate`` node belongs to it;
- in an operation that called ``operators.rollup``, a stage that ran an
  aggregate or ``Window`` node belongs to it.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

from eventlog import (AGGREGATE_NODES, EventLog, Span, attribute, median, plan_counts,
                      self_ms, union_intervals, union_ms)

LAYERS = ("session", "sources.snapshots", "materialize", "operators.rollup",
          "compress", "operators.resample", "plans")
COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "gc_ms", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "task_ms_p50", "task_ms_max",
            "wall_ms", "self_ms")
# the session spans run one fixed warm-up job: their shuffle, spill and task
# spread are not what any change to the engine moves
SESSION_COUNTERS = ("jobs", "stages", "tasks", "cpu_ms", "gc_ms", "wall_ms", "self_ms")
# layers whose calls only build lazy plans: they submit no Spark job, so a job
# submitted on another thread while one of their spans is open is not theirs
PLAN_ONLY = ("operators.rollup", "compress", "operators.resample")
PLAN_OPS = ("backfill", "refresh", "range_1m", "resampled_6h", "compressed_1h",
            "realtime_1h", "formula")


def _now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    """Records spans; one operation is in flight at a time."""

    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op: Span | None = None
        self._next = 0
        self._patched: list = []  # (owner, attribute, original) undone by restore()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, layer: str, name: str, op: bool = False, **attrs):
        """Open a span.  ``op=True`` marks an operation: spans opened on any
        thread while it is open belong to it (pool threads start with an
        empty stack, so their parent is the operation)."""
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        with self._lock:
            sid = self._next
            self._next += 1
        s = Span(sid, None if parent is None else parent.id, layer, name,
                 None, _now_ms(), 0.0, threading.get_ident(), dict(attrs))
        s.op = sid if op else (None if parent is None else parent.op)
        if op:
            self._op = s
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end_ms = _now_ms()
            if op:
                self._op = None
            with self._lock:
                self.spans.append(s)

    def wrap(self, owner, attr: str, layer: str, on_result=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span; the
        original is restored by :meth:`restore`.  ``on_result(span, args,
        kwargs, result)`` may annotate the span."""
        fn = getattr(owner, attr)
        name = f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(s, args, kwargs, out)
                return out

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched = []


def instrument(tracer: Tracer) -> None:
    """Wrap each layer's entry points.  Commit and scan-planning wrappers
    annotate their spans with file counts for the snapshot-layer metrics."""
    from tsengine import compress as C
    from tsengine.materialize import MaterializedTiers
    from tsengine.operators import resample
    from tsengine.operators import rollup as R
    from tsengine.plans import parser
    from tsengine.plans.api import Engine
    from tsengine.sources.snapshots import SnapshotTable

    def on_commit(span, args, kwargs, sid):
        tbl, new_files = args[0], args[2]
        removed = kwargs.get("removed_paths", args[5] if len(args) > 5 else None)
        span.attrs.update(
            commits=1, files_added=len(new_files),
            files_removed=len(removed or ()),
            bytes_written=sum(f["bytes"] for f in new_files),
            table=tbl.path,
        )

    def on_plan(span, args, kwargs, keep):
        span.attrs.update(files_total=len(args[1]["files"]), files_kept=len(keep))

    for attr in ("append", "overwrite", "replace_files", "read", "incremental",
                 "_read_files"):
        tracer.wrap(SnapshotTable, attr, "sources.snapshots")
    tracer.wrap(SnapshotTable, "_commit", "sources.snapshots", on_commit)
    tracer.wrap(SnapshotTable, "_plan_files", "sources.snapshots", on_plan)
    for attr in ("refresh", "read_tier", "read_realtime", "read_resampled",
                 "freeze_tier_blocks", "read_tier_compressed"):
        tracer.wrap(MaterializedTiers, attr, "materialize")
    for attr in ("with_latency", "rollup_raw_to_tier", "reaggregate", "merge_tier"):
        tracer.wrap(R, attr, "operators.rollup")
    for attr in ("compress_table", "decompress_table"):
        tracer.wrap(C, attr, "compress")
    for attr in ("distribute", "distribute_linear"):
        tracer.wrap(resample, attr, "operators.resample")
    tracer.wrap(Engine, "query", "plans")
    tracer.wrap(parser, "parse", "plans")


# ---------------------------------------------------------------- counters

def _job_owners(spans: list[Span]) -> list[Span]:
    return [s for s in spans if s.layer not in PLAN_ONLY]


def _stage_layer(log: EventLog, stage, span_layer: str, op_layers: set) -> str:
    kinds = log.stage_node_kinds(stage)
    if "MapInPandas" in kinds:
        return "compress"
    if "operators.resample" in op_layers and kinds & {"Window", "Generate"}:
        return "operators.resample"
    if "operators.rollup" in op_layers and kinds & (set(AGGREGATE_NODES) | {"Window"}):
        return "operators.rollup"
    return span_layer


def layer_metrics(spans: list[Span], log: EventLog, source_path: str,
                  phase_ops: dict[int, str]) -> dict[str, float]:
    """Per-layer counters of the measured loop, as means per operation.

    ``phase_ops`` maps each measured operation span id to its type (the
    PLAN_OPS name, or another label); spans outside those operations count
    only for the ``session`` layer, which covers set-up."""

    by_id = {s.id: s for s in spans}
    n_ops = max(1, len(phase_ops))
    op_layers: dict[int, set] = {}
    for s in spans:
        if s.op is not None:
            op_layers.setdefault(s.op, set()).add(s.layer)

    jobs = sorted(log.jobs.values(), key=lambda j: j.submit_ms)
    owners = attribute(_job_owners(spans), [j.submit_ms for j in jobs])
    acc = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in COUNTERS}
    task_ms = {layer: [] for layer in LAYERS}
    op_stages: dict[int, list] = {}
    job_ms_in: dict[int, list] = {}  # span id -> job intervals inside it
    refreshes = [op for op, kind in phase_ops.items() if kind in ("refresh", "backfill")]
    refresh_jobs = refresh_stages = 0
    for job, owner in zip(jobs, owners):
        span = by_id.get(owner)
        if span is None:
            continue
        in_loop = span.op in phase_ops
        if not in_loop and span.layer != "session":
            continue
        job_ms_in.setdefault(span.id, []).append((job.submit_ms, job.end_ms or job.submit_ms))
        acc[f"{span.layer}.jobs"] += 1
        in_refresh = span.op in refreshes
        refresh_jobs += in_refresh
        for sid in job.stage_ids:
            stage = log.stages.get(sid)
            if stage is None or not stage.tasks:
                continue  # skipped: its shuffle output was reused
            refresh_stages += in_refresh
            layer = _stage_layer(log, stage, span.layer, op_layers.get(span.op, set()))
            if in_loop:
                op_stages.setdefault(span.op, []).append((layer, stage))
            acc[f"{layer}.stages"] += 1
            acc[f"{layer}.tasks"] += len(stage.tasks)
            for t in stage.tasks:
                acc[f"{layer}.cpu_ms"] += t.cpu_ms
                acc[f"{layer}.gc_ms"] += t.gc_ms
                acc[f"{layer}.shuffle_read_bytes"] += t.shuffle_read_bytes
                acc[f"{layer}.shuffle_write_bytes"] += t.shuffle_write_bytes
                acc[f"{layer}.spill_bytes"] += t.spill_bytes
                task_ms[layer].append(t.run_ms)

    selfs = self_ms(spans)
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer
                and (s.op in phase_ops if layer != "session" else True)]
        acc[f"{layer}.wall_ms"] = union_ms(mine)
        acc[f"{layer}.self_ms"] = sum(selfs[s.id] for s in mine)
        acc[f"{layer}.task_ms_p50"] = median(task_ms[layer]) or 0.0
        acc[f"{layer}.task_ms_max"] = max(task_ms[layer], default=0.0)

    out = {}
    for layer in LAYERS:
        for c in COUNTERS:
            if layer == "session" and c not in SESSION_COUNTERS:
                continue
            v = acc[f"{layer}.{c}"]
            per_op = layer != "session" and c not in ("task_ms_p50", "task_ms_max")
            out[f"{layer}.{c}"] = v / n_ops if per_op else v

    out["materialize.jobs_per_refresh"] = refresh_jobs / len(refreshes) if refreshes else 0.0
    out["materialize.stages_per_refresh"] = refresh_stages / len(refreshes) if refreshes else 0.0

    # session
    for name in ("start", "warmup"):
        out[f"session.{name}_ms"] = sum(
            s.end_ms - s.start_ms for s in spans if s.layer == "session" and s.name == name)

    # sources.snapshots
    loop = [s for s in spans if s.op in phase_ops]
    commits = [s for s in loop if "commits" in s.attrs]
    snap_spans = [s for s in loop if s.layer == "sources.snapshots" and s.parent is not None
                  and by_id.get(s.parent, s).layer != "sources.snapshots"]
    commit_ms = 0.0
    for s in snap_spans:
        inner = [iv for sp in spans if sp.op == s.op and sp.layer == "sources.snapshots"
                 and s.start_ms <= sp.start_ms and sp.end_ms <= s.end_ms
                 for iv in job_ms_in.get(sp.id, [])]
        commit_ms += max(0.0, (s.end_ms - s.start_ms) - union_intervals(inner))
    # raw appends may run outside the timed operation (append_refresh times
    # only the refresh), so the raw side counts every source commit of the loop
    loop_t0 = min((by_id[op].start_ms for op in phase_ops), default=float("inf"))
    src_bytes = sum(s.attrs["bytes_written"] for s in spans if "commits" in s.attrs
                    and s.attrs["table"] == source_path and s.start_ms >= loop_t0)
    tier_bytes = sum(s.attrs["bytes_written"] for s in commits if s.attrs["table"] != source_path)
    plans_ = [s for s in loop if "files_total" in s.attrs]
    total_files = sum(s.attrs["files_total"] for s in plans_)
    out.update({
        "sources.snapshots.commits": len(commits) / n_ops,
        "sources.snapshots.commit_ms": commit_ms / n_ops,
        "sources.snapshots.files_added": sum(s.attrs["files_added"] for s in commits) / n_ops,
        "sources.snapshots.files_removed": sum(s.attrs["files_removed"] for s in commits) / n_ops,
        "sources.snapshots.bytes_written": (src_bytes + tier_bytes) / n_ops,
        "sources.snapshots.write_amp": tier_bytes / src_bytes if src_bytes else 0.0,
        "sources.snapshots.files_pruned_frac": (
            1 - sum(s.attrs["files_kept"] for s in plans_) / total_files if total_files else 0.0),
    })

    # operators.rollup and compress: SQL metrics of the stages they own
    rollup_stages = [st for sts in op_stages.values() for layer, st in sts if layer == "operators.rollup"]
    comp_stages = [st for sts in op_stages.values() for layer, st in sts if layer == "compress"]
    res_stages = [st for sts in op_stages.values() for layer, st in sts if layer == "operators.resample"]
    agg = set(AGGREGATE_NODES)
    skews = []
    for st in rollup_stages:
        if len(st.tasks) >= 4:
            ms = sorted(t.run_ms for t in st.tasks)
            skews.append(ms[-1] / max(1.0, median(ms)))
    out.update({
        "operators.rollup.agg_ms": log.sql_metric(rollup_stages, agg, "time in aggregation build") / n_ops,
        "operators.rollup.sort_ms": log.sql_metric(rollup_stages, {"Sort"}, "sort time") / n_ops,
        "operators.rollup.shuffle_records": log.sql_metric(
            rollup_stages, {"Exchange"}, "shuffle records written") / n_ops,
        "operators.rollup.rows_out": log.sql_metric(rollup_stages, agg, "number of output rows") / n_ops,
        "operators.rollup.task_skew": max(skews, default=0.0),
    })
    py = {"MapInPandas"}
    out.update({
        "compress.python_total_ms": log.sql_metric(comp_stages, py, "time to run Python workers") / n_ops,
        "compress.python_boot_ms": log.sql_metric(comp_stages, py, "time to start Python workers") / n_ops,
        "compress.python_init_ms": log.sql_metric(comp_stages, py, "time to initialize Python workers") / n_ops,
        "compress.bytes_to_python": log.sql_metric(comp_stages, py, "data sent to Python workers") / n_ops,
        "compress.bytes_from_python": log.sql_metric(comp_stages, py, "data returned from Python workers") / n_ops,
        "compress.points": log.sql_metric(comp_stages, py, "number of output rows") / n_ops,
    })

    # plans and operators.resample
    q = [s for s in loop if s.layer == "plans" and s.name.endswith(".query")]
    p = [s for s in loop if s.layer == "plans" and s.name.endswith(".parse")]
    parse_ms = sum(s.end_ms - s.start_ms for s in p)
    out.update({
        "plans.parse_ms": parse_ms / n_ops,
        "plans.eval_ms": (sum(s.end_ms - s.start_ms for s in q) - parse_ms) / n_ops,
        "resample.grid_rows": log.sql_metric(res_stages, {"Generate"}, "number of output rows") / n_ops,
    })

    # plan shape per operation type: SQL executions started inside the op
    ex = sorted(log.executions.values(), key=lambda e: e.start_ms)
    ex_owner = attribute([s for s in spans if s.op is not None], [e.start_ms for e in ex])
    per_type: dict[str, list] = {}
    counts: dict[int, list] = {}
    for e, owner in zip(ex, ex_owner):
        span = by_id.get(owner)
        if span is None or span.op not in phase_ops:
            continue
        sc, xc = plan_counts(e.plan)
        c = counts.setdefault(span.op, [0, 0])
        c[0] += sc
        c[1] += xc
    for op_id, kind in phase_ops.items():
        per_type.setdefault(kind, []).append(counts.get(op_id, [0, 0]))
    for kind in PLAN_OPS:
        rows = per_type.get(kind, [])
        out[f"plan.{kind}.scans"] = sum(r[0] for r in rows) / len(rows) if rows else 0.0
        out[f"plan.{kind}.exchanges"] = sum(r[1] for r in rows) / len(rows) if rows else 0.0
    return out


def per_op_type(spans: list[Span], log: EventLog, phase_ops: dict[int, str]) -> dict[str, list]:
    """Per operation, in the order they ran, grouped by type: plan exchanges,
    shuffle bytes written, jobs and stages — the counters the sensitivity
    self-test reads."""
    by_id = {s.id: s for s in spans}
    tot = {op: {"jobs": 0, "stages": 0, "shuffle_write_bytes": 0, "exchanges": 0}
           for op in phase_ops}
    jobs = sorted(log.jobs.values(), key=lambda j: j.submit_ms)
    for job, owner in zip(jobs, attribute(_job_owners(spans), [j.submit_ms for j in jobs])):
        span = by_id.get(owner)
        if span is None or span.op not in tot:
            continue
        tot[span.op]["jobs"] += 1
        for sid in job.stage_ids:
            st = log.stages.get(sid)
            if st is not None and st.tasks:
                tot[span.op]["stages"] += 1
                tot[span.op]["shuffle_write_bytes"] += sum(t.shuffle_write_bytes for t in st.tasks)
    ex = sorted(log.executions.values(), key=lambda e: e.start_ms)
    for e, owner in zip(ex, attribute(spans, [e.start_ms for e in ex])):
        span = by_id.get(owner)
        if span is not None and span.op in tot:
            tot[span.op]["exchanges"] += plan_counts(e.plan)[1]
    out: dict[str, list] = {}
    for op in sorted(phase_ops, key=lambda i: by_id[i].start_ms):
        out.setdefault(phase_ops[op], []).append(tot[op])
    return out
