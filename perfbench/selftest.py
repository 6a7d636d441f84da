#!/usr/bin/env python3
"""Sensitivity self-test: can the traced run localize an injected exchange?

    python3 perfbench/selftest.py [--seed 7] [--seconds 12] [--target range_1m]

Makes two traced ``tier_read`` runs with the same seed: a plain one, and one
whose ``--inject-exchange`` adds a ``repartition`` before the sink of the
target read type.  The seed fixes the sequence of reads and their
parameters, so the n-th read of a type has the same parameters in both runs.
From the per-operation counters alone it then checks that plan exchanges
and shuffle bytes written moved for the target type and for no other.
Prints one JSON verdict; exits 0 when it holds.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(os.getcwd(), ".perfbench")


def traced(seed: int, seconds: int, inject: str | None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", "tier_read",
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"]
    if inject:
        cmd += ["--inject-exchange", inject]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, timeout=600)
    with open(os.path.join(WORK, "results", f"spans-tier_read-s{seed}.json")) as f:
        return json.load(f)["per_op_type"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--target", default="range_1m")
    args = ap.parse_args()

    base = traced(args.seed, args.seconds, None)
    hit = traced(args.seed, args.seconds, args.target)
    rows, moved = {}, []
    for kind in sorted(set(base) | set(hit)):
        pairs = list(zip(base.get(kind, []), hit.get(kind, [])))  # same parameters
        dx = sum(h["exchanges"] - b["exchanges"] for b, h in pairs)
        dw = sum(h["shuffle_write_bytes"] - b["shuffle_write_bytes"] for b, h in pairs)
        rows[kind] = {"reads_compared": len(pairs), "exchanges_added": dx,
                      "shuffle_write_bytes_added": dw}
        if dx or dw:
            moved.append(kind)
    ok = moved == [args.target]
    print(json.dumps({"target": args.target, "moved": moved, "localized": ok,
                      "per_type": rows}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
