"""Host-probe and gate robustness: a failed or partial steal probe is
reported as unknown (never quiet), the memcpy probe survives a missing
numpy or a failed allocation, and a non-numeric shuffle-partition conf
falls back to the context's parallelism."""

import builtins
import importlib.util
import os
import types

from tsengine.session import shuffle_parallelism

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(rel: str):
    spec = importlib.util.spec_from_file_location(
        os.path.splitext(os.path.basename(rel))[0], os.path.join(ROOT, rel))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


gate = _load("scripts/bench_gate.py")
probe = _load("bench/steal_probe.py")

QUIET = {"steal_pct": 0.5, "memcpy_gbps": 14.0}


def test_gate_missing_probe_reading_is_unknown_not_quiet():
    assert gate.host_state({"before": QUIET, "after": QUIET}) == "quiet"
    # the probe subprocess failed outright
    failed = {"steal_pct": None, "error": "boom"}
    assert gate.host_state({"before": failed, "after": QUIET}) == "unknown"
    # steal measured, memory bus not
    assert gate.host_state(
        {"before": QUIET, "after": {"steal_pct": 0.5, "memcpy_gbps": None}}
    ) == "unknown"
    assert gate.host_state({"before": None, "after": QUIET}) == "unknown"
    # a reading that does show contention still wins over a missing one
    assert gate.host_state(
        {"before": failed, "after": {"steal_pct": 12.0, "memcpy_gbps": 14.0}}
    ) == "noisy"
    assert gate.host_state(
        {"before": QUIET, "after": {"steal_pct": 0.5, "memcpy_gbps": 8.0}}
    ) == "noisy"
    assert gate.host_state(None) is None  # --compare: no probe ran


def test_memcpy_probe_returns_none_without_numpy(monkeypatch):
    real_import = builtins.__import__

    def no_numpy(name, *a, **kw):
        if name == "numpy":
            raise ImportError("numpy unavailable")
        return real_import(name, *a, **kw)

    monkeypatch.setattr(builtins, "__import__", no_numpy)
    assert probe._memcpy_gbps(mb=1, reps=1) is None


def test_memcpy_probe_returns_none_on_memory_error(monkeypatch):
    import numpy as np

    def oom(*a, **kw):
        raise MemoryError

    monkeypatch.setattr(np, "ones", oom)
    assert probe._memcpy_gbps(mb=1, reps=1) is None
    monkeypatch.undo()
    assert probe._memcpy_gbps(mb=1, reps=1) > 0


def test_probe_advice_with_unmeasured_bus():
    assert probe._advice(0.5, 14.0) == "quiet"
    assert probe._advice(0.5, None) == "unknown"
    assert probe._advice(7.0, None) == "noisy"
    assert probe._advice(0.5, 8.0) == "noisy"


def test_shuffle_parallelism_falls_back_on_auto(spark):
    assert shuffle_parallelism(spark) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))
    stub = types.SimpleNamespace(
        conf=types.SimpleNamespace(get=lambda key: "auto"),
        sparkContext=types.SimpleNamespace(defaultParallelism=7),
    )
    assert shuffle_parallelism(stub) == 7


def test_semantic_pairs_run_under_auto_shuffle_conf(spark, monkeypatch):
    """semantic_dedup's parallelism floor reads the conf through
    shuffle_parallelism, so an "auto" value no longer fails the query."""
    import tsengine.session as session
    from tsengine.operators import dedup

    real = session.shuffle_parallelism
    seen = []

    def auto_conf(s):
        stub = types.SimpleNamespace(
            conf=types.SimpleNamespace(get=lambda key: "auto"),
            sparkContext=s.sparkContext,
        )
        seen.append(real(stub))
        return seen[-1]

    monkeypatch.setattr(session, "shuffle_parallelism", auto_conf)
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.01]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = dedup._semantic_pairs(emb, [[1.0, 0.0], [0.0, 1.0]], 0.9).collect()
    assert seen == [spark.sparkContext.defaultParallelism]
    assert [(r.vec_a, r.vec_b) for r in pairs] == [(1, 2)]
