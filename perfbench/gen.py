"""Seeded transcript generator for the benchmark (FIXTURES.md §1 shape).

``tsengine.synth`` pins ``SEED = 42`` and renders text turn by turn in
Python; the benchmark needs a table per ``--seed`` and must not spend its
run generating it.  This generator keeps the §1 schema and rules:

- ``conv_{i:08d}`` ids, contiguous ``turn_idx`` from 0;
- hot conversations (``i % 97 == 0``) carry ``hot_factor`` (100) times the
  turns — the skew the rollup's hot keys see;
- roles weighted 40/40/20 over user/assistant/tool, a tool name only on tool
  turns;
- text ``f"{conv_id}:{turn_idx}:"`` plus 16..256 seeded alphanumerics;
- lognormal inter-turn gaps (median ~20 s, heavy tail) with 1 % multi-hour
  gaps, anchored at 2014-05-01.

It differs in one place: each conversation's start is jittered over
``span_days`` days rather than one, so the table spans several day-files and
a late-arriving conversation touches an old day.  Every array is drawn from
one ``numpy`` generator seeded by ``seed`` and the text is assembled as Arrow
buffers, so a 200k-turn table takes about a second.

The table is cached as parquet under ``cache_dir``, keyed by (seed, size).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ANCHOR_EPOCH = 1398895200  # 2014-05-01T00:00:00 Europe/Madrid (FIXTURES.md §1)
HOT_EVERY = 97
FILES = 8
ROLES = np.array(["user", "assistant", "tool"], dtype=object)
ROLE_W = [0.4, 0.4, 0.2]
TOOLS = np.array(["search", "exec", "read", "write", "none"], dtype=object)
_ALNUM = np.frombuffer(
    b"abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", dtype=np.uint8
)


def generate(seed: int, n_conv: int, base_turns: int = 150, hot_factor: int = 100,
             span_days: int = 7) -> pa.Table:
    """The transcripts table for ``seed`` as an Arrow table, rows ordered by
    (conv_id, turn_idx)."""
    rng = np.random.default_rng(seed % 2**64)  # any integer seed, negative too
    idx = np.arange(n_conv)
    n = base_turns + rng.integers(0, base_turns, size=n_conv)
    n = np.where(idx % HOT_EVERY == 0, n * hot_factor, n)
    total = int(n.sum())
    conv_of = np.repeat(idx, n)
    first = np.concatenate(([0], np.cumsum(n)[:-1]))
    turn_idx = (np.arange(total) - np.repeat(first, n)).astype(np.int32)

    roles = ROLES[rng.choice(3, size=total, p=ROLE_W)]
    tools = np.where(roles == "tool", TOOLS[rng.integers(0, 5, size=total)], None)

    gaps = np.ceil(rng.lognormal(mean=3.0, sigma=1.2, size=total)).astype(np.int64)
    long_gap = rng.random(total) < 0.01
    gaps = np.where(long_gap, gaps + rng.integers(3600, 6 * 3600, size=total), gaps)
    gaps[first] = 0  # a conversation's first turn sits at its start
    start = ANCHOR_EPOCH + rng.integers(0, span_days * 86400, size=n_conv)
    csum = np.cumsum(gaps)
    epochs = np.repeat(start, n) + csum - np.repeat(csum[first], n)

    conv_ids = np.array([f"conv_{i:08d}" for i in range(n_conv)], dtype=object)
    prefix = [f"{c}:{t}:" for c, t in zip(conv_ids[conv_of], turn_idx.tolist())]
    lengths = rng.integers(16, 257, size=total)
    body = _ALNUM[rng.integers(0, len(_ALNUM), size=int(lengths.sum()))]
    offsets = np.concatenate(([0], np.cumsum(lengths))).astype(np.int32)
    body_arr = pa.StringArray.from_buffers(
        total, pa.py_buffer(offsets.tobytes()), pa.py_buffer(body.tobytes())
    )
    text = pc.binary_join_element_wise(pa.array(prefix, pa.string()), body_arr, "")

    return pa.table({
        "conv_id": pa.array(conv_ids[conv_of], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(roles, pa.string()),
        "text": text,
        "tool": pa.array(tools, pa.string()),
        "ts": pa.array(epochs * 1_000_000, pa.timestamp("us", tz="UTC")),
    })


def cached(cache_dir: str, seed: int, n_conv: int, base_turns: int) -> tuple[str, float]:
    """Path of the parquet table for (seed, size), generating it when
    absent; returns (path, seconds spent generating — 0 on a cache hit).
    The table is split into FILES files by conversation."""
    path = os.path.join(cache_dir, f"transcripts_s{seed}_c{n_conv}_t{base_turns}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path, 0.0
    t0 = time.perf_counter()
    table = generate(seed, n_conv, base_turns)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    step = -(-table.num_rows // FILES)
    for k in range(FILES):
        part = table.slice(k * step, step)
        if part.num_rows:
            pq.write_table(part, os.path.join(tmp, f"part-{k:05d}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, time.perf_counter() - t0
