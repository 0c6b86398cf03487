#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of the same seed.

    python3 perfbench/overhead.py --workload curation --seed 1 --seconds 7

Prints the op wall-time median with tracing off (``op_wall_s`` on the
detail line) and on (``trace.op_wall_s``), their difference, and the same
for whole-run wall
time. The traced run materialises at the layer boundaries the program
already caches at, so the difference is what tracing costs a run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(args, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True,
    ).stdout.splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()
    plain_detail, _ = run(args, 0)
    traced_detail, traced = run(args, 1)
    off = plain_detail["op_wall_s"]
    on = traced["metrics"]["trace.op_wall_s"]["value"]
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "op_untraced_s": off,
        "op_traced_s": on,
        "op_overhead_s": on - off,
        "wall_untraced_s": plain_detail["wall_s"],
        "wall_traced_s": traced_detail["wall_s"],
        "wall_overhead_s": traced_detail["wall_s"] - plain_detail["wall_s"],
    }))


if __name__ == "__main__":
    main()
