"""Independent answers the benchmark checks the engine against, outside every
timed region.

- ``reference_tiers``: the pure-Python reference oracle
  (``oracle/reference_oracle.py``) over the generated turns of a few
  conversations — bit-for-bit tier rows.
- ``DuckRollup``: DuckDB over the source table's own parquet files at a
  given snapshot, computing latency and tier rollups in SQL.
- ``formula_answer`` / ``linear_answer``: the reference oracle's
  distribute/split/inner_mean chain and a plain-Python linear interpolation
  over the same 1h points.
"""

from __future__ import annotations

import math
import os


def _dist(v) -> tuple:
    if v is None or isinstance(v, float):  # NULL map (NaN once in pandas)
        return ()
    if isinstance(v, dict) and set(v) == {"key", "value"}:  # DuckDB MAP
        items = zip(v["key"], v["value"])
    else:
        items = v.items() if isinstance(v, dict) else v
    return tuple(sorted((k, int(c)) for k, c in items if c))


def _num(v):
    if v is None or math.isnan(v):
        return None
    return float(v)


def canon(rows, with_dists: bool = True) -> set:
    """Tier rows (dicts) as a set of hashable tuples; NaN and None are the
    same missing value, empty and missing distributions the same map."""
    out = set()
    for r in rows:
        key = (r["conv_id"], int(r["bucket"]), int(r["cnt"]), int(r["cnt_lat"]),
               _num(r["vmin"]), _num(r["vmax"]), _num(r["vsum"]), _num(r["vmean"]))
        if with_dists:
            key += (_dist(r["role_dist"]), _dist(r["tool_dist"]))
        out.add(key)
    return out


def canon_frame(pdf, with_dists: bool = True) -> set:
    """:func:`canon` of a pandas frame of tier rows."""
    return canon(pdf.to_dict("records"), with_dists)


def reference_tiers(table, convs: list[str]) -> dict[str, list[dict]]:
    """Oracle tier rows of ``convs`` from the generated Arrow table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from oracle import reference_oracle as ro

    sub = table.filter(pc.is_in(table["conv_id"], value_set=pa.array(convs)))
    cols = sub.select(["conv_id", "turn_idx", "role", "tool", "ts"]).to_pydict()
    by_conv: dict[str, list] = {}
    for c, t, role, tool, ts in zip(cols["conv_id"], cols["turn_idx"], cols["role"],
                                    cols["tool"], cols["ts"]):
        by_conv.setdefault(c, []).append((t, {"epoch": int(ts.timestamp()), "role": role,
                                               "tool": tool}))
    out: dict[str, list[dict]] = {"1m": [], "1h": [], "1d": []}
    for conv, turns in by_conv.items():
        turns = [d for _, d in sorted(turns, key=lambda x: x[0])]
        for tier, rows in ro.rollup_tiers(turns).items():
            for bucket, row in rows.items():
                out[tier].append({"conv_id": conv, "bucket": bucket, **row})
    return out


class DuckRollup:
    """Tier rollups straight from the raw parquet files of one snapshot."""

    def __init__(self, files: list[str]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        flist = ", ".join(f"'{f}'" for f in files)
        self.con.execute(f"""
            CREATE TABLE lat AS
            SELECT conv_id, turn_idx, role, tool, e,
                   CAST(e - lag(e) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS DOUBLE) AS lat
            FROM (SELECT conv_id, turn_idx, role, tool,
                         CAST(floor(epoch(ts)) AS BIGINT) AS e
                  FROM read_parquet([{flist}]))
        """)
        self._memo: dict = {}

    def rollup(self, width: int, lo: int, hi: int) -> list[dict]:
        key = (width, lo, hi)
        if key not in self._memo:
            rows = self.con.execute(f"""
                SELECT conv_id, CAST(floor(e / {width}) * {width} AS BIGINT) AS bucket,
                       count(*) AS cnt, count(lat) AS cnt_lat, min(lat) AS vmin,
                       max(lat) AS vmax, sum(lat) AS vsum,
                       sum(lat) / nullif(count(lat), 0) AS vmean,
                       histogram(role) AS role_dist, histogram(tool) AS tool_dist
                FROM lat
                WHERE floor(e / {width}) * {width} BETWEEN {lo} AND {hi}
                GROUP BY ALL
            """).fetchdf()
            self._memo[key] = rows.to_dict("records")
        return self._memo[key]

    def close(self) -> None:
        self.con.close()


def snapshot_files(table, snapshot_id: int) -> list[str]:
    return [os.path.join(table.path, f["path"]) for f in table.snapshot(snapshot_id)["files"]]


def formula_answer(points: list[tuple[int, float]], lo: int, hi: int) -> list[tuple]:
    """inner_mean(split(get_variable(..., time_int=3600, from=lo, to=hi),
    period=day)) by the reference oracle: the left-open window (lo, hi],
    LOCF distribute onto the hour grid, Madrid-day split, mean per day."""
    from oracle import reference_oracle as ro

    ts = sorted((e, v) for e, v in points if lo < e <= hi)
    if not ts:
        return []
    grid = ro.distribute(ts, seconds=3600, e_to=hi, e_from=max(lo + 1, 1356994800))
    return sorted(ro.inner_mean(g) for g in ro.split(grid, period="day"))


def linear_answer(points: list[tuple[int, float]], step: int) -> list[tuple]:
    """Linear interpolation onto multiples of ``step`` strictly inside the
    observed span, with the increasing-meter reset rule (reset value 0)."""
    ts = sorted(points)
    if len(ts) < 2:
        return []
    lo, hi = ts[0][0], ts[-1][0]
    g = step * (lo // step) + (step if lo % step else 0)
    last = step * ((hi - 1) // step)
    out = []
    i = 0
    while g <= last:
        while i + 1 < len(ts) and ts[i + 1][0] <= g:
            i += 1
        (pe, pv), (ne, nv) = ts[i], ts[i + 1]
        t1, t2 = float(ne - pe), float(g - pe)
        out.append((g, 0.0 + (t2 / t1) * (nv - 0.0) if pv > nv else pv + (t2 / t1) * (nv - pv)))
        g += step
    return out
