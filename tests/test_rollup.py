"""Tier rollup correctness: bit-for-bit vs the pure-pandas oracle
(FIXTURES.md §4), partial-reaggregation consistency, exact-kernel parity,
per-turn text equality, and kill-resume without double counts."""

import os

import pytest

from oracle import reference_oracle as ro
from tsengine.checkpoint import InjectedFailure, RollupJob
from tsengine.operators import rollup as R
from tsengine.synth import transcripts, write_transcripts


@pytest.fixture(scope="module")
def small_transcripts(spark):
    return transcripts(spark, n_conv=20, base_turns=40, hot_factor=10).cache()


def _collect_turns(df):
    rows = df.select("conv_id", "turn_idx", "role", "tool", "ts").collect()
    by_conv = {}
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        by_conv.setdefault(r["conv_id"], []).append(
            {
                "epoch": int(r["ts"].timestamp()),
                "role": r["role"],
                "tool": r["tool"],
            }
        )
    return by_conv


def _tier_rows(df):
    out = {}
    for r in df.collect():
        key = (r["conv_id"], r["bucket"])
        out[key] = {
            "cnt": r["cnt"],
            "cnt_lat": r["cnt_lat"],
            "vmin": r["vmin"],
            "vmax": r["vmax"],
            "vsum": r["vsum"],
            "vmean": r["vmean"],
            "role_dist": dict(r["role_dist"]) if r["role_dist"] else {},
            "tool_dist": dict(r["tool_dist"]) if r["tool_dist"] else {},
        }
    return out


def test_synth_deterministic_and_invariant(spark):
    a = transcripts(spark, n_conv=5, base_turns=20, hot_factor=3)
    b = transcripts(spark, n_conv=5, base_turns=20, hot_factor=3)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    # (conv_id, turn_idx) unique; ts non-decreasing within conv
    seen = set()
    last = {}
    for row in ra:
        conv, idx, _, _, _, ts = row
        assert (conv, idx) not in seen
        seen.add((conv, idx))
        if conv in last:
            assert ts >= last[conv]
        last[conv] = ts


def test_tiers_match_pandas_oracle_bitforbit(spark, small_transcripts):
    turns = R.with_latency(small_transcripts)
    tiers = R.build_all_tiers(turns)
    by_conv = _collect_turns(small_transcripts)

    for name in ("1m", "1h", "1d"):
        got = _tier_rows(tiers[name])
        exp = {}
        for conv, t in by_conv.items():
            for bucket, row in ro.rollup_tiers(t, tiers=((R.TIERS[name], name),))[name].items():
                exp[(conv, bucket)] = row
        assert set(got) == set(exp), f"{name}: bucket sets differ"
        for key in exp:
            g, e = got[key], exp[key]
            assert g["cnt"] == e["cnt"] and g["cnt_lat"] == e["cnt_lat"], (name, key)
            # bit-for-bit float equality (integer-second latencies are exact)
            for fld in ("vmin", "vmax", "vsum", "vmean"):
                assert g[fld] == e[fld], (name, key, fld, g[fld], e[fld])
            assert g["role_dist"] == e["role_dist"], (name, key)
            assert g["tool_dist"] == e["tool_dist"], (name, key)


def test_reaggregate_equals_direct(spark, small_transcripts):
    """1h built from 1m must equal 1h built straight from raw."""
    turns = R.with_latency(small_transcripts)
    direct = _tier_rows(R.rollup_raw_to_tier(turns, "1h"))
    via_1m = _tier_rows(R.reaggregate(R.rollup_raw_to_tier(turns, "1m"), "1h"))
    assert direct == via_1m


def _exact_rows(df):
    """Rows in (conv_id, bucket) order with the dist maps as ordered entry
    lists: equal only when every value and every map entry's position
    match."""
    return sorted(
        df.selectExpr(
            "conv_id", "tier", "bucket", "cnt", "cnt_lat", "vmin", "vmax", "vsum",
            "vmean", "map_entries(role_dist) as rd", "map_entries(tool_dist) as td",
        ).collect(),
        key=lambda r: (r["conv_id"], r["bucket"]),
    )


@pytest.mark.parametrize("vocab", ["partial", "none"])
def test_direct_rollup_equals_chain_bitforbit(spark, small_transcripts, vocab):
    """Raw -> 1h and raw -> 1d in one aggregate (the real-time tail read)
    equal the 1m -> 1h -> 1d reaggregation chain bit for bit: with a vocab
    that misses a role and a tool (counts under ``__other__``), and with no
    vocab at all (auto-detected pivot vs the collect_list map fold)."""
    turns = R.with_latency(small_transcripts)
    if vocab == "partial":
        roles = sorted(r[0] for r in small_transcripts.select("role").distinct().collect())
        tools = sorted(r[0] for r in small_transcripts.select("tool").distinct().collect()
                       if r[0] is not None)
        kw = {"role_vocab": roles[:-1], "tool_vocab": tools[:-1]}
    else:
        kw = {"role_vocab": None, "tool_vocab": None}
    chain = R.rollup_raw_to_tier(turns, "1m", **kw)
    for tier in ("1h", "1d"):
        chain = R.reaggregate(chain, tier, **kw)
        direct = _exact_rows(R.rollup_raw_to_tier(turns, tier, **kw))
        assert direct == _exact_rows(chain), tier
        others = [r for r in direct if any(e["key"] == "__other__" for e in r["rd"])]
        assert bool(others) == (vocab == "partial"), tier


def test_vocab_memo_is_per_vocab_and_per_gateway(spark, small_transcripts, monkeypatch):
    """The pivot/map-assembly Column builders are memoized; two vocabs in
    one process each get their own maps, and a different JVM gateway never
    reuses another gateway's Columns."""
    from pyspark import SparkContext

    roles = sorted(r[0] for r in small_transcripts.select("role").distinct().collect())
    turns = R.with_latency(small_transcripts)

    def keys(vocab):
        df = R.rollup_raw_to_tier(turns, "1h", role_vocab=vocab, tool_vocab=[])
        return {k for r in df.select("role_dist").collect() for k in r[0]}

    assert keys(roles[:1]) == {roles[0], "__other__"}
    assert keys(roles) == set(roles)
    assert keys(roles[:1]) == {roles[0], "__other__"}  # memo hit, same answer

    assert R._assemble_map(roles, "_r") is R._assemble_map(list(roles), "_r")
    assert R._assemble_map(roles, "_r") is not R._assemble_map(roles[:1], "_r")
    assert R._pivot_counts_raw("role", roles, "_r") is not R._pivot_counts_raw(
        "role", roles, "_t")
    before = R._pivot_counts_maps("role_dist", roles, "_r")
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert R._pivot_counts_maps("role_dist", roles, "_r") is not before


def test_exact_kernel_matches_fast_path(spark, small_transcripts):
    turns = R.with_latency(small_transcripts)
    fast = _tier_rows(R.rollup_raw_to_tier(turns, "1h"))
    exact = {}
    for r in R.rollup_exact(turns, "1h").collect():
        exact[(r["conv_id"], r["bucket"])] = (
            r["cnt"], r["cnt_lat"], r["vmin"], r["vmax"], r["vsum"], r["vmean"]
        )
    assert set(fast) == set(exact)
    for k, v in exact.items():
        f = fast[k]
        assert (f["cnt"], f["cnt_lat"], f["vmin"], f["vmax"], f["vsum"], f["vmean"]) == v


def test_checkpoint_resume_no_double_counts(spark, tmp_path):
    src = str(tmp_path / "transcripts")
    write_transcripts(spark, src, n_conv=12, base_turns=30, hot_factor=5)

    # full run -> golden outputs
    golden_dir = str(tmp_path / "golden")
    job_g = RollupJob(golden_dir)
    job_g.run(spark, src)
    golden = {t: _tier_rows(job_g.read_tier(spark, t)) for t in ("1m", "1h", "1d")}

    # killed run: fail after 1 committed day of tier 1m
    resume_dir = str(tmp_path / "resume")
    job_k = RollupJob(resume_dir, run_id="killed")
    with pytest.raises(InjectedFailure):
        job_k.run(spark, src, fail_after=("1m", 1))
    assert len(job_k.committed("1m")) == 1
    assert len(job_k.committed("1h")) == 0

    # resume with a fresh job object (new run id), same base dir
    job_r = RollupJob(resume_dir, run_id="resumed")
    committed = job_r.run(spark, src)
    # prep fully committed in run 1 -> nothing re-done
    assert committed["prep"] == []
    # outputs identical to the single-run golden
    for t in ("1m", "1h", "1d"):
        assert _tier_rows(job_r.read_tier(spark, t)) == golden[t], t

    # lineage rows exist for every committed partition
    lin = job_r.lineage_rows()
    keys = {(r["tier"], r["partition_key"]) for r in lin}
    for t in ("prep", "1m", "1h", "1d"):
        assert any(k[0] == t for k in keys)
    # lineage records the TRUE input cardinality: every aggregating tier
    # must shrink (input_rows > output_rows), and the 1m input must equal
    # the prep output for the same day (prep itself is row-preserving)
    prep_out = {r["partition_key"]: r["output_rows"] for r in lin if r["tier"] == "prep"}
    for t in ("1m", "1h", "1d"):
        rows = [r for r in lin if r["tier"] == t]
        assert all(r["input_rows"] >= r["output_rows"] for r in rows), rows
        # at least one day genuinely aggregates (a 1-row day may not shrink)
        assert any(r["input_rows"] > r["output_rows"] for r in rows), rows
    for r in lin:
        if r["tier"] == "1m" and r["partition_key"] in prep_out:
            assert r["input_rows"] == prep_out[r["partition_key"]], r
    # per-day input_bytes are true per-day file sizes, not an even split
    # (VERDICT r2 #6): the 1m tier reads day-partitioned prep dirs of
    # unequal size, so its lineage bytes must differ across days and match
    # the prep day's output_bytes exactly
    prep_bytes = {r["partition_key"]: r["output_bytes"] for r in lin if r["tier"] == "prep"}
    m_bytes = {r["partition_key"]: r["input_bytes"] for r in lin if r["tier"] == "1m"}
    assert len(set(m_bytes.values())) > 1, m_bytes
    for day, b in m_bytes.items():
        if day in prep_bytes:
            assert b == prep_bytes[day], (day, b, prep_bytes[day])


def test_per_turn_text_equality(spark, tmp_path):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering, after a round-trip through the prep stage."""
    src = str(tmp_path / "transcripts")
    write_transcripts(spark, src, n_conv=6, base_turns=20, hot_factor=3)
    base = str(tmp_path / "job")
    job = RollupJob(base)
    job.run(spark, src)

    orig = spark.read.parquet(src).select("conv_id", "turn_idx", "text")
    prep = spark.read.parquet(os.path.join(base, "prep")).select(
        "conv_id", "turn_idx", "text"
    )
    o = [(r["conv_id"], r["turn_idx"], r["text"]) for r in orig.collect()]
    p = [(r["conv_id"], r["turn_idx"], r["text"]) for r in prep.collect()]
    assert sorted(o) == sorted(p)
    assert len(o) == len(set((c, t) for c, t, _ in o))


def test_tier_chain_single_exchange_plan(spark, small_transcripts):
    """Scale guard: raw -> latency -> 1m must execute with exactly ONE
    Exchange (the window's conv_id hashpartitioning satisfies the rollup
    groupBy's clustering requirement), and the aggregate must be codegen
    HashAggregate, not ObjectHashAggregate (README 'Design for 100 TB')."""
    from tsengine.operators import rollup as R

    turns = R.with_latency(small_transcripts)
    plan = (
        R.rollup_raw_to_tier(turns, "1m", role_vocab=["user"], tool_vocab=["grep"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "ObjectHashAggregate" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_incomplete_vocab_records_other_bucket(spark, small_transcripts):
    """A caller-supplied vocab that misses categories must not silently
    undercount: missing values land under the reserved '__other__' key, in
    both the raw rollup and the map-reaggregation path."""
    from pyspark.sql import functions as F

    turns = R.with_latency(small_transcripts)
    full_roles = sorted(
        r[0] for r in small_transcripts.select("role").distinct().collect()
    )
    partial = full_roles[:-1]
    dropped = full_roles[-1]

    m_full = R.rollup_raw_to_tier(turns, "1m", role_vocab=full_roles)
    m_part = R.rollup_raw_to_tier(turns, "1m", role_vocab=partial)

    tot = lambda df: df.select(  # noqa: E731
        F.sum(
            F.aggregate(
                F.map_values("role_dist"), F.lit(0).cast("long"), lambda a, x: a + x
            )
        )
    ).first()[0]
    # totals preserved, dropped category accounted under __other__
    assert tot(m_part) == tot(m_full)
    other_total = m_part.select(
        F.sum(F.coalesce(F.element_at("role_dist", F.lit("__other__")), F.lit(0)))
    ).first()[0]
    dropped_total = m_full.select(
        F.sum(F.coalesce(F.element_at("role_dist", F.lit(dropped)), F.lit(0)))
    ).first()[0]
    assert other_total == dropped_total > 0

    # reaggregation with the same partial vocab keeps the accounting
    h_part = R.reaggregate(m_part, "1h", role_vocab=partial)
    assert tot(h_part) == tot(m_full)
    # a complete vocab still produces NO __other__ entries
    assert (
        m_full.filter(F.element_at("role_dist", F.lit("__other__")).isNotNull()).count()
        == 0
    )


def test_conversation_stats_hand_computed(spark):
    import tsengine.operators.rollup as R

    rows = [
        # c1: strict alternation, one tool call, latencies 10 and 20
        ("c1", 1, "user", "hi there", "", 100),
        ("c1", 2, "assistant", "hello", "search", 110),
        ("c1", 3, "user", "bye", "", 130),
        # c2: single turn (no latency), no tools
        ("c2", 1, "user", "solo", "", 500),
        # c3: alternation violation (two assistant turns in a row)
        ("c3", 1, "assistant", "a", "", 0),
        ("c3", 2, "assistant", "b", "t", 5),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, e long"
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                 "cast(e as timestamp) as ts")
    out = {r["conv_id"]: r for r in R.conversation_stats(df).collect()}
    c1 = out["c1"]
    assert c1["n_turns"] == 3 and c1["n_roles"] == 2
    assert c1["duration_sec"] == 30 and c1["alternation_violations"] == 0
    assert c1["lat_mean"] == 15.0 and c1["lat_max"] == 20
    assert abs(c1["tool_frac"] - 0.333333) < 1e-9
    assert c1["chars_total"] == len("hi there") + len("hello") + len("bye")
    c2 = out["c2"]
    assert c2["n_turns"] == 1 and c2["lat_mean"] == 0.0 and c2["lat_max"] == 0
    assert c2["duration_sec"] == 0 and c2["tool_frac"] == 0.0
    c3 = out["c3"]
    assert c3["alternation_violations"] == 1 and c3["n_roles"] == 1
    assert abs(c3["tool_frac"] - 0.5) < 1e-9


def test_conversation_stats_single_exchange_plan(spark):
    import tsengine.operators.rollup as R

    df = spark.createDataFrame(
        [("c", 1, "user", "x", "", 0)],
        "conv_id string, turn_idx int, role string, text string, tool string, e long",
    ).selectExpr("conv_id", "turn_idx", "role", "text", "tool",
                 "cast(e as timestamp) as ts")
    plan = (
        R.conversation_stats(df)._jdf.queryExecution().executedPlan().toString()
    )
    # window partition key (conv_id) satisfies the groupBy clustering:
    # one shuffle (+ final AQE read), no Expand from a distinct rewrite
    assert plan.count("Exchange") <= 2
    assert "Expand" not in plan


def test_latency_by_transition(spark):
    from pyspark.sql import functions as F

    from tsengine.operators import rollup as R

    rows = [
        ("c1", 1, "user", 0), ("c1", 2, "assistant", 10),
        ("c1", 3, "user", 40), ("c1", 4, "assistant", 60),
        ("c2", 1, "user", 0), ("c2", 2, "assistant", 30),
    ]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, e long"
    ).select("conv_id", "turn_idx", "role", F.timestamp_seconds("e").alias("ts"))
    got = {
        (r["role_from"], r["role_to"]): (r["n"], r["mean_latency"],
                                         r["max_latency"], r["p50_latency"])
        for r in R.latency_by_transition(t).collect()
    }
    assert got == {
        ("user", "assistant"): (3, 20.0, 30, 20.0),   # 10, 20, 30
        ("assistant", "user"): (1, 30.0, 30, 30.0),
    }


def test_steady_state_run_is_vocab_scan_free(spark, tmp_path, monkeypatch):
    """VERDICT r03 task 4: the role/tool vocabulary is persisted table
    metadata — the distinct pre-scan runs on the FIRST RollupJob.run for a
    table, and second and later runs issue no distinct-scan job at all."""
    from tsengine.operators import rollup as R_mod

    src = str(tmp_path / "transcripts")
    write_transcripts(spark, src, n_conv=6, base_turns=20, hot_factor=3)

    calls = {"n": 0}
    real_vocab = R_mod._vocab

    def counting_vocab(df, col, max_size=256):
        calls["n"] += 1
        return real_vocab(df, col, max_size)

    monkeypatch.setattr(R_mod, "_vocab", counting_vocab)

    base = str(tmp_path / "job")
    job1 = RollupJob(base, run_id="first")
    job1.run(spark, src)
    assert calls["n"] == 2  # role + tool, once each, first build only
    golden = {t: _tier_rows(job1.read_tier(spark, t)) for t in ("1m", "1h", "1d")}

    job2 = RollupJob(base, run_id="second")
    job2.run(spark, src)
    assert calls["n"] == 2  # steady state: zero distinct scans
    for t in ("1m", "1h", "1d"):
        assert _tier_rows(job2.read_tier(spark, t)) == golden[t], t

    # explicit refresh re-scans and rewrites the metadata
    job3 = RollupJob(base, run_id="third")
    job3.run(spark, src, refresh_vocab=True)
    assert calls["n"] == 4
