#!/usr/bin/env python3
"""tsengine per-change benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One process is the only client: it starts
Spark on ``local[4]``, builds the workload's precondition from the seeded
input (set-up), then runs a closed loop of operations for ``--seconds``
seconds, checks every result against an independent answer, and prints one
JSON object as its last line: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
counters with ``--trace 1``.  The line before it carries the full detail
(host record, generation time, every named metric, percentile labels).

Workloads (see perfbench/README.md for why each exists):

- ``append_refresh``: append equal-row increments and refresh the tiers;
- ``tier_read``: a seeded mix of five read types over a frozen store with
  an un-refreshed tail;
- ``backfill``: refresh from empty plus a 1h freeze, repeated into fresh
  state dirs (run by hand; BENCHMARK.json leaves it out, see the README).

Everything the run writes stays under ``.perfbench/`` in the working
directory: the input cache, state dirs, Spark scratch and event logs.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import random
import shutil
import signal
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(os.getcwd(), ".perfbench")
N_CONV = 400           # with BASE_TURNS: ~40k turns, 5 hot conversations
BASE_TURNS = 30
SHUFFLE_PARTITIONS = "4"
TIER_ROLES = ["assistant", "tool", "user"]
TIER_TOOLS = ["exec", "none", "read", "search", "write"]
DAY = 86400
READ_TYPES = ("range_1m", "resampled_6h", "compressed_1h", "realtime_1h", "formula")


def _env() -> None:
    """Keep every file the run writes inside the working directory and let
    Spark's Python workers import the engine."""
    for d in ("cache", "spark-local", "tmp", "eventlog", "state", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["TSENGINE_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ.pop("TSENGINE_TMPFS_SHUFFLE", None)
    os.environ.pop("TSENGINE_PRETOUCH", None)


def _start_spark(trace: bool, app: str):
    from tsengine.session import get_spark

    # C1 only: a run lives about a minute, and C2 recompiling Spark's hot
    # paths keeps the timings drifting for longer than that.  C1 alone gets
    # a small code cache by default; when it fills, the JIT stops.
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": "-XX:+UseTransparentHugePages -XX:TieredStopAtLevel=1 "
                                         "-XX:ReservedCodeCacheSize=256m "
                                         f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "tmp", "warehouse"),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file:" + os.path.join(WORK, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name=app, master="local[4]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark() -> None:
    """Stop the session, if one runs, then end the JVM and wait for it: the
    JVM leaves when its stdin closes.  Safe to call twice and on any path."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    sc, gateway = SparkContext._active_spark_context, SparkContext._gateway
    SparkContext._gateway = None
    if sc is not None:
        with contextlib.suppress(Exception):
            sc.stop()
    if gateway is None:
        return
    with contextlib.suppress(Exception):
        gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _warmup(spark) -> None:
    """One small job: the first job of a fresh JVM loads the scheduler and
    codegen classes.  The precondition build warms the rest."""
    spark.range(10_000).selectExpr("sum(id)").collect()


class Tiers:
    """A source snapshot table plus its materialized tiers in a fresh dir."""

    def __init__(self, name: str):
        from tsengine.materialize import MaterializedTiers
        from tsengine.sources.snapshots import SnapshotTable

        self.root = os.path.join(WORK, "state", f"{name}-{uuid.uuid4().hex[:8]}")
        self.src = SnapshotTable(os.path.join(self.root, "source"), ts_col="ts")
        self.mat = MaterializedTiers(self.src, os.path.join(self.root, "tiers"),
                                     role_vocab=TIER_ROLES, tool_vocab=TIER_TOOLS)

    def stored_bytes(self) -> int:
        tables = list(self.mat.tiers.values()) + [self.mat.block_table("1h")]
        total = 0
        for t in tables:
            sid = t.current_snapshot_id()
            if sid is not None:
                total += sum(f["bytes"] for f in t.snapshot(sid)["files"])
        return total

    def turns(self) -> int:
        sid = self.src.current_snapshot_id()
        return sum(f["rows"] for f in self.src.snapshot(sid)["files"])

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def _write_parts(table, path: str) -> str:
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    return path


# ------------------------------------------------------------------ workloads

class Workload:
    """One workload: ``setup`` builds the precondition into ``self.t``,
    ``step`` runs one timed operation, ``check`` verifies the results."""

    inject = None  # read type whose sink gets an extra repartition (self-test)

    def __init__(self, spark, table, inputs: str, rng: random.Random, tracer):
        self.spark, self.table, self.inputs, self.rng, self.tracer = spark, table, inputs, rng, tracer
        self.failed = 0
        self.wrong = 0
        self.attempted = 0
        self.detail: dict = {"setup_phases": {}}
        self._mark = time.perf_counter()

    def mark(self, phase: str) -> None:
        """Record the seconds since the previous mark as a set-up phase."""
        now = time.perf_counter()
        self.detail["setup_phases"][phase] = now - self._mark
        self._mark = now

    def span(self, layer, name, op=False):
        return _span(self.tracer, layer, name, op)

    def latency_groups(self, lat: dict[str, list[float]]) -> list[list[float]]:
        """The samples whose medians the gated latency averages: one group
        per operation type."""
        return list(lat.values())

    def layer_extras(self) -> dict:
        """Workload-specific per-layer counters (zero where they do not apply)."""
        return {"materialize.files_reused": 0.0, "materialize.files_rewritten": 0.0,
                "materialize.rewrite_frac": 0.0,
                **{f"materialize.component_ms.{c}": 0.0 for c in ("convstate", "1m", "1h", "1d")}}


class Backfill(Workload):
    """Append the whole table as one snapshot, refresh from empty, freeze
    the 1h tier — repeated into fresh state dirs."""

    def setup(self):
        self.t = None
        self.step()  # untimed warm-up: the first backfill of a JVM runs cold
        self.mark("warm_backfill")

    def step(self) -> tuple[str, float, int | None]:
        t = Tiers("backfill")
        raw = self.spark.read.parquet(self.inputs)
        with self.span("sources.snapshots", "append"):
            t.src.append(raw)
        t0 = time.perf_counter()
        with self.span("materialize", "backfill", op=True) as s:
            t.mat.refresh(self.spark)
            self.detail["block"] = t.mat.freeze_tier_blocks(self.spark, "1h")
        dt = time.perf_counter() - t0
        if self.t is not None:
            self.t.drop()
        self.t = t
        return "backfill", dt, (s.id if s is not None else None)

    def check(self) -> bool:
        from checks import canon, canon_frame, reference_tiers
        from pyspark.sql import functions as F

        convs = ["conv_00000000"] + sorted(self.rng.sample(
            [f"conv_{i:08d}" for i in range(1, N_CONV) if i % 97], 4))
        exp = reference_tiers(self.table, convs)
        for tier in ("1m", "1h", "1d"):
            got = self.t.mat.read_tier(self.spark, tier).filter(F.col("conv_id").isin(convs))
            if canon_frame(got.toPandas()) != canon(exp[tier]):
                return False
        return True


class AppendRefresh(Workload):
    """Materialize most of the table, then append equal-row increments and
    refresh.  Increments alternate between fresh tail slices (newest rows
    by time: the newest day-files) and late-arriving whole conversations
    (many old day-files)."""

    INC_FRAC = 0.005

    def setup(self):
        import numpy as np
        import pyarrow.compute as pc

        tb = self.table
        n = tb.num_rows
        convs = np.array(tb["conv_id"].to_pylist())
        ids = sorted(set(convs))
        normal = [c for c in ids if int(c[5:]) % 97]
        late = set(self.rng.sample(normal, max(1, len(normal) // 8)))
        is_late = np.isin(convs, list(late))
        ts = pc.cast(tb["ts"], "int64").to_numpy()
        rest = np.where(~is_late)[0]
        cut = np.quantile(ts[rest], 0.9)
        fresh = rest[ts[rest] >= cut]
        fresh = fresh[np.argsort(ts[fresh], kind="stable")]
        base = rest[ts[rest] < cut]
        inc_rows = max(1, int(n * self.INC_FRAC))
        d = os.path.join(self.inputs + ".append", f"inc{inc_rows}")
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            _write_parts(tb.take(base), os.path.join(d, "base"))
            k = 0
            for lo in range(0, len(fresh), inc_rows):
                _write_parts(tb.take(fresh[lo:lo + inc_rows]), os.path.join(d, f"fresh{k:04d}"))
                k += 1
            late_rows = np.where(is_late)[0]
            late_convs = convs[late_rows]
            chunk, k = [], 0
            for c in sorted(late):
                chunk.append(c)
                rows = late_rows[np.isin(late_convs, chunk)]
                if len(rows) >= inc_rows:
                    _write_parts(tb.take(rows), os.path.join(d, f"late{k:04d}"))
                    chunk, k = [], k + 1
            open(os.path.join(d, "_SUCCESS"), "w").close()
        names = sorted(os.listdir(d))
        self.fresh = [os.path.join(d, x) for x in names if x.startswith("fresh")]
        self.late = [os.path.join(d, x) for x in names if x.startswith("late")]
        self.mark("split_input")
        self.t = Tiers("append")
        self.t.src.append(self.spark.read.parquet(os.path.join(d, "base")))
        self.t.mat.refresh(self.spark)
        self.mark("backfill")
        # four untimed warm-up increments, two of each kind: in a fresh JVM
        # the first refresh of each kind runs up to half again as slow
        self.i = 0
        for _ in range(4):
            self._append_refresh()
        self.mark("warm_refresh")
        self.components: list[dict] = []
        self.kinds: list[str] = []  # increment kind of each timed refresh
        self.lineage_from = len(self.t.mat.lineage_rows())

    def _append_refresh(self) -> tuple[float, int | None]:
        self.kind = "fresh" if self.i % 2 == 0 else "late"
        pool = self.fresh if self.kind == "fresh" else self.late
        if self.i // 2 >= len(pool):
            raise StopIteration  # increments used up
        path = pool[self.i // 2]
        self.i += 1
        with self.span("sources.snapshots", "append"):
            self.t.src.append(self.spark.read.parquet(path))
        t0 = time.perf_counter()
        with self.span("materialize", "refresh", op=True) as s:
            self.t.mat.refresh(self.spark)
        return time.perf_counter() - t0, (s.id if s is not None else None)

    def step(self):
        dt, sid = self._append_refresh()
        self.components.append(dict(self.t.mat.last_refresh_timings))
        self.kinds.append(self.kind)
        return "refresh", dt, sid

    def latency_groups(self, lat):
        """Fresh and late refreshes apart: the two kinds differ in cost, and
        a run may time one more of either kind."""
        samples = lat.get("refresh", [])
        return [[x for k, x in zip(self.kinds, samples) if k == kind] for kind in ("fresh", "late")]

    def check(self) -> bool:
        """Every tier equals a from-scratch rollup of the same source
        snapshot, computed by DuckDB over the source's parquet files."""
        from checks import DuckRollup, canon, canon_frame, snapshot_files

        src = self.t.src
        duck = DuckRollup(snapshot_files(src, src.current_snapshot_id()))
        try:
            for tier, width in (("1m", 60), ("1h", 3600), ("1d", DAY)):
                got = canon_frame(self.t.mat.read_tier(self.spark, tier).toPandas())
                if got != canon(duck.rollup(width, 0, 2**62)):
                    return False
            return True
        finally:
            duck.close()

    def layer_extras(self) -> dict:
        rows = self.t.mat.lineage_rows()[self.lineage_from:]
        tiers = [r for r in rows if r["component"] in ("1m", "1h", "1d")]
        reused = sum(r["reused_files"] for r in tiers)
        rewritten = sum(r["rewritten_files"] for r in tiers)
        n = max(1, len(self.components))
        out = {"materialize.files_reused": reused / n, "materialize.files_rewritten": rewritten / n,
               "materialize.rewrite_frac": rewritten / (reused + rewritten) if reused + rewritten else 0.0}
        for c in ("convstate", "1m", "1h", "1d"):
            out[f"materialize.component_ms.{c}"] = 1000 * sum(
                x.get(c, 0.0) for x in self.components) / n
        return out


class TierRead(Workload):
    """Build, freeze and leave an un-refreshed tail; then a seeded
    closed-loop mix of five read types.  Writes nothing."""

    TAIL_FRAC = 0.1

    def setup(self):
        import numpy as np
        import pyarrow.compute as pc

        tb = self.table
        ts = pc.cast(tb["ts"], "int64").to_numpy() // 1_000_000
        cut = int(np.quantile(ts, 1 - self.TAIL_FRAC))
        d = self.inputs + ".read"
        if not os.path.exists(os.path.join(d, "_SUCCESS")):
            _write_parts(tb.filter(pc.less(pc.cast(tb["ts"], "int64"), cut * 1_000_000)),
                         os.path.join(d, "base"))
            _write_parts(tb.filter(pc.greater_equal(pc.cast(tb["ts"], "int64"), cut * 1_000_000)),
                         os.path.join(d, "tail"))
            open(os.path.join(d, "_SUCCESS"), "w").close()
        self.mark("split_input")
        self.t = Tiers("read")
        src, mat = self.t.src, self.t.mat
        src.append(self.spark.read.parquet(os.path.join(d, "base")))
        mat.refresh(self.spark)
        self.mark("backfill")
        self.detail["block"] = mat.freeze_tier_blocks(self.spark, "1h")
        self.mark("freeze")
        src.append(self.spark.read.parquet(os.path.join(d, "tail")))
        self.pos, self.head = mat.positions()["1h"], src.current_snapshot_id()

        self.day0 = DAY * (int(ts.min()) // DAY)
        self.data_days = max(1, int(cut // DAY - self.day0 // DAY))
        self.tail_days = list(range(int(cut // DAY), int(ts.max() // DAY) + 1))
        # each hot conversation's materialized span: formula windows start
        # inside it, so no formula reads an empty series
        conv = tb["conv_id"].to_numpy(zero_copy_only=False)
        self.hot = {}
        for c in (f"conv_{i:08d}" for i in range(0, N_CONV, 97)):
            mine = ts[(conv == c) & (ts < cut)]
            if mine.size:
                self.hot[c] = (int(mine.min()), int(mine.max()))
        from pyspark.sql import functions as F
        from tsengine.plans.api import Engine

        plane = mat.read_tier(self.spark, "1h").select(
            F.substring("conv_id", 6, 8).cast("long").alias("series_id"),
            F.col("bucket").alias("epoch"), F.col("cnt").cast("double").alias("value"))
        self.plane = plane
        self.engine = Engine(self.spark, plane)
        self.results: list = []
        self.queue: list = []
        # untimed warm-up: every read type once
        for kind in READ_TYPES:
            self._read(kind, self._params(kind))
        self.mark("warm_reads")

    def _params(self, kind: str) -> tuple:
        r = self.rng
        if kind == "range_1m":
            lo = self.day0 + DAY * r.randrange(self.data_days)
            return lo, lo + DAY - 1
        if kind == "resampled_6h":
            lo = self.day0 + DAY * r.randrange(max(1, self.data_days - 6))
            return lo, lo + 7 * DAY - 1
        if kind == "compressed_1h":
            lo = self.day0 + DAY * r.randrange(max(1, self.data_days - 2))
            return lo, lo + 3 * DAY - 1
        if kind == "realtime_1h":
            lo = DAY * r.choice(self.tail_days)
            return lo, lo + DAY - 1
        conv = r.choice(sorted(self.hot))
        first, last = self.hot[conv]
        lo = DAY * (first // DAY) + DAY * r.randrange(max(1, (last - first) // DAY))
        return int(conv[5:]), lo, lo + 7 * DAY

    def _read(self, kind: str, p: tuple):
        from pyspark.sql import functions as F
        from tsengine.operators import resample

        sp, mat = self.spark, self.t.mat
        if kind == "range_1m":
            dfs = [mat.read_tier(sp, "1m", p[0], p[1])]
        elif kind == "resampled_6h":
            dfs = [mat.read_resampled(sp, 21600, p[0], p[1])]
        elif kind == "compressed_1h":
            dfs = [mat.read_tier_compressed(sp, "1h", p[0], p[1])]
        elif kind == "realtime_1h":
            dfs = [mat.read_realtime(sp, "1h", p[0], p[1])]
        else:
            sid, lo, hi = p
            dfs = [
                self.engine.query(f"inner_mean(split(get_variable({sid};time_int=3600;"
                                  f"now={hi};from={lo};to={hi});period=day))"),
                resample.distribute_linear(self.plane.filter(
                    (F.col("series_id") == sid) & F.col("epoch").between(lo + 1, hi)), 900),
            ]
        if kind == self.inject:
            dfs = [df.repartition(7) for df in dfs]
        return [df.toPandas() for df in dfs]

    def step(self):
        if not self.queue:  # rounds of all five types in a seeded order
            self.queue = self.rng.sample(READ_TYPES, len(READ_TYPES))
        kind = self.queue.pop()
        p = self._params(kind)
        layer = "plans" if kind == "formula" else "materialize"
        t0 = time.perf_counter()
        with self.span(layer, kind, op=True) as s:
            out = self._read(kind, p)
        dt = time.perf_counter() - t0
        self.results.append((kind, p, out))
        return kind, dt, (s.id if s is not None else None)

    def check(self) -> bool:
        """Every read's result against DuckDB over the same parquet files (or
        the reference oracle for the formula), memoized by parameters."""
        from checks import (DuckRollup, canon, canon_frame, formula_answer, linear_answer,
                            snapshot_files)

        src = self.t.src
        duck_mat = DuckRollup(snapshot_files(src, self.pos))
        duck_all = DuckRollup(snapshot_files(src, self.head))
        bad = 0
        try:
            for kind, p, out in self.results:
                if kind == "range_1m":
                    ok = canon_frame(out[0]) == canon(duck_mat.rollup(60, p[0], p[1]))
                elif kind == "resampled_6h":
                    ok = canon_frame(out[0]) == canon(duck_mat.rollup(21600, p[0], p[1]))
                elif kind == "compressed_1h":
                    ok = canon_frame(out[0], False) == canon(duck_mat.rollup(3600, p[0], p[1]), False)
                elif kind == "realtime_1h":
                    ok = canon_frame(out[0]) == canon(duck_all.rollup(3600, p[0], p[1]))
                else:
                    sid, lo, hi = p
                    conv = f"conv_{sid:08d}"
                    pts = [(r["bucket"], float(r["cnt"]))
                           for r in duck_mat.rollup(3600, lo - 3600, hi + 3600) if r["conv_id"] == conv]
                    f = sorted((int(e), float(v)) for e, v in zip(out[0]["epoch"], out[0]["value"]))
                    lin = sorted((int(e), float(v)) for e, v in zip(out[1]["epoch"], out[1]["value"]))
                    ok = (f == formula_answer(pts, lo, hi)
                          and lin == linear_answer([x for x in pts if lo < x[0] <= hi], 900))
                bad += not ok
        finally:
            duck_mat.close()
            duck_all.close()
        self.wrong = bad
        return bad == 0


WORKLOADS = {"backfill": Backfill, "append_refresh": AppendRefresh, "tier_read": TierRead}


# ------------------------------------------------------------------ main

def _tail(samples):
    """Highest percentile with at least 10 samples beyond it, when that is
    at least the median; otherwise there are too few samples for a tail."""
    from eventlog import tail_percentile

    t = tail_percentile(samples)
    if t is None or t[0] < 50:
        return None, f"n={len(samples)}"
    return t[1], f"p{t[0]} of n={t[2]}"


def _span(tracer, layer: str, name: str, op: bool = False):
    return tracer.span(layer, name, op=op) if tracer else contextlib.nullcontext()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-exchange", choices=READ_TYPES, default=None,
                    help="tier_read only: add a repartition before this read type's sink")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import tsengine  # noqa: F401  (the engine must be importable from the root)
        from oracle import reference_oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    import host

    _env()
    host.become_subreaper()
    # a SIGTERM unwinds through the finally below instead of ending at once
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args)
    finally:
        # every path out stops the JVM and waits for each process it forked
        _stop_spark()
        killed = host.reap_descendants()
        if killed:
            print(f"perfbench: killed lingering processes {killed}", file=sys.stderr)


def _run(args) -> int:
    import pyarrow.parquet as pq

    import gen
    import host
    from eventlog import EventLog, median
    from trace import Tracer, instrument, layer_metrics, per_op_type

    host_start = host.probe()
    path, gen_s = gen.cached(os.path.join(WORK, "cache"), args.seed, N_CONV, BASE_TURNS)
    table = pq.read_table(path)
    rss = host.PeakRss().start()
    tracer = Tracer() if args.trace else None
    if tracer:
        instrument(tracer)

    # ---- set-up: session start, warm-up, the workload's precondition
    t_setup = time.perf_counter()
    with _span(tracer, "session", "start"):
        spark = _start_spark(bool(args.trace), f"perfbench-{args.workload}")
    t_started = time.perf_counter()
    with _span(tracer, "session", "warmup"):
        _warmup(spark)
    t_warm = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, table, path, random.Random(args.seed), tracer)
    wl.inject = args.inject_exchange
    wl.setup()
    setup_s = time.perf_counter() - t_setup

    # ---- the closed loop: one operation in flight
    ops: dict[int, str] = {}  # operation span id -> operation type
    lat: dict[str, list[float]] = {}
    errors: list[str] = []
    deadline = time.perf_counter() + args.seconds
    while time.perf_counter() < deadline:
        try:
            kind, dt, sid = wl.step()
        except StopIteration:  # the workload ran out of inputs
            break
        except Exception as e:  # a failed operation counts; the loop goes on
            wl.attempted += 1
            wl.failed += 1
            errors.append(repr(e)[:300])
            continue
        wl.attempted += 1
        lat.setdefault(kind, []).append(dt)
        if sid is not None:
            ops[sid] = kind

    # ---- untimed: correctness, storage, host
    correct = wl.check() if wl.attempted else False
    failed = wl.failed + wl.wrong
    if not correct and args.workload != "tier_read":
        failed = wl.attempted  # the final state is wrong, so is every op behind it
    stored = wl.t.stored_bytes() / wl.t.turns()
    extras = wl.layer_extras()
    host_rec = host.record(spark)
    app_id = spark.sparkContext.applicationId
    _stop_spark()
    rss.stop()
    host_end = host.probe()

    pooled = [x for xs in lat.values() for x in xs]
    p50 = median(pooled)
    tail, tail_label = _tail(pooled)
    # the gated latency: the geometric mean of the per-group medians (read
    # types, increment kinds), which no shift in the mix of a run can move
    group_p50 = [median(v) for v in wl.latency_groups(lat) if v]
    latency = math.exp(sum(math.log(x) for x in group_p50) / len(group_p50)) if group_p50 else None
    named = {"setup_s": setup_s, "latency_s": latency, "gen_s": gen_s,
             "failed_ops_frac": failed / max(1, wl.attempted),
             "stored_bytes_per_turn": stored, "peak_rss_mb": rss.peak_mb,
             "ops": {k: len(v) for k, v in lat.items()}, "measured_s": args.seconds}
    if args.workload == "append_refresh":
        named.update(refresh_p50_s=p50, refresh_tail_s=tail, refresh_tail_pct=tail_label)
    elif args.workload == "tier_read":
        named.update(read_p50_s=p50, read_tail_s=tail, read_tail_pct=tail_label)
        for k in READ_TYPES:
            named[f"read_{k}_p50_s"] = median(lat.get(k, []))
    else:
        named.update(backfill_turns_per_s=table.num_rows / p50 if p50 else None)
    if "block" in wl.detail:
        named["block_bytes_per_point"] = wl.detail["block"]["bytes_per_point"]

    result_dir = os.path.join(WORK, "results")
    metrics = {k: {"value": named[k], "unit": u}
               for k, u in (("setup_s", "s"), ("latency_s", "s"), ("stored_bytes_per_turn", "B/turn"))}
    if tracer:
        tracer.restore()
        log = EventLog.from_file(os.path.join(WORK, "eventlog", app_id))
        pl = layer_metrics(tracer.spans, log, wl.t.src.path, ops)
        pl.update(extras)
        untraced = _latest_untraced(result_dir, args.workload)
        pl["trace.overhead_frac"] = (latency / untraced - 1) if untraced and latency else 0.0
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(pl.items())}
        with open(os.path.join(result_dir, f"spans-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": [s.__dict__ for s in tracer.spans], "ops": ops,
                       "per_op_type": per_op_type(tracer.spans, log, ops)}, f)

    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host_rec, "host_start": host_start, "host_end": host_end,
              "metrics": named, "latencies": lat,
              "setup_phases": {"spark_start": t_started - t_setup, "warmup": t_warm - t_started,
                               **wl.detail["setup_phases"]},
              "errors": errors[:5], "inject_exchange": args.inject_exchange}
    with open(os.path.join(result_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f)
    wl.t.drop()
    print(json.dumps(detail))
    print(json.dumps({"correct": bool(correct), "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def _latest_untraced(result_dir: str, workload: str):
    best = None
    for name in os.listdir(result_dir):
        if name.startswith(workload + "-") and name.endswith("-t0.json"):
            p = os.path.join(result_dir, name)
            if best is None or os.path.getmtime(p) > os.path.getmtime(best):
                best = p
    if best is None:
        return None
    with open(best) as f:
        return json.load(f)["metrics"].get("latency_s", {}).get("value")


def _unit(name: str) -> str:
    if "_ms" in name:
        return "ms"
    if name.endswith("bytes") or name.endswith("bytes_written") or "bytes_" in name:
        return "B"
    if name.endswith("_frac") or name.endswith("skew") or name.endswith("write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
