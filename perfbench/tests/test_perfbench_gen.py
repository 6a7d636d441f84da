"""The benchmark's generator: one seed gives one table, another a different
one, in the FIXTURES.md §1 shape."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.compute as pc  # noqa: E402

import gen  # noqa: E402


def test_same_seed_same_table_other_seed_differs():
    a = gen.generate(7, 120, base_turns=20)
    b = gen.generate(7, 120, base_turns=20)
    c = gen.generate(8, 120, base_turns=20)
    assert a.equals(b)
    assert not a.equals(c)


def test_fixture_shape():
    t = gen.generate(3, 200, base_turns=20)
    assert t.column_names == ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    d = t.to_pandas()
    assert not d.duplicated(["conv_id", "turn_idx"]).any()
    per = d.groupby("conv_id")
    assert (per["turn_idx"].min() == 0).all()
    assert (per["turn_idx"].max() + 1 == per.size()).all()
    assert per["ts"].apply(lambda s: s.is_monotonic_increasing).all()
    sizes = per.size()
    hot = sizes[[c for c in sizes.index if int(c[5:]) % 97 == 0]]
    assert hot.min() >= 100 * 20  # hot conversations carry 100x turns
    assert set(d["role"]) == {"user", "assistant", "tool"}
    assert d.loc[d["role"] != "tool", "tool"].isna().all()
    assert d.loc[d["role"] == "tool", "tool"].notna().all()
    assert all(x.startswith(f"{c}:{i}:") for c, i, x in zip(d["conv_id"], d["turn_idx"], d["text"]))
    assert pc.min(t["ts"]).value >= gen.ANCHOR_EPOCH * 1_000_000


def test_cache_is_keyed_by_seed_and_size(tmp_path):
    p1, s1 = gen.cached(str(tmp_path), 5, 30, 10)
    p2, s2 = gen.cached(str(tmp_path), 5, 30, 10)
    p3, _ = gen.cached(str(tmp_path), 6, 30, 10)
    assert p1 == p2 and s1 > 0 and s2 == 0.0 and p3 != p1
