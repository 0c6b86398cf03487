#!/usr/bin/env python3
"""Summarise saved benchmark runs: median and quartile spread per metric.

    python3 perfbench/spread.py RUN_OUTPUT...

Each argument is the standard output of one ``run.py`` call. Runs are
grouped by workload (from the detail line); for every metric of the
result line the script prints the median, the quartiles from
``statistics.quantiles(values, n=4)`` and their distance as a share of
the median, which is the spread the benchmark's bounds are judged on.
The header line of each workload gives run walls and the share of CPU
time the hypervisor gave to other guests during the runs (steal).
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[dict, dict]:
    with open(path) as f:
        lines = [line for line in f.read().splitlines() if line.startswith("{")]
    return json.loads(lines[-2]), json.loads(lines[-1])


def main(paths: list[str]) -> None:
    groups: dict[str, list[tuple[dict, dict]]] = {}
    for path in paths:
        detail, res = load(path)
        groups.setdefault(detail["workload"], []).append((detail, res))
    for workload, runs in sorted(groups.items()):
        walls = [d["wall_s"] for d, _ in runs]
        failed = sum(r["failed"] for _, r in runs)
        steal = [d["env"].get("cpu_steal_share", float("nan")) for d, _ in runs]
        print(f"{workload}: {len(runs)} runs, wall median {statistics.median(walls):.1f} s "
              f"(max {max(walls):.1f}), failed ops {failed}, "
              f"CPU steal median {statistics.median(steal):.3f} (max {max(steal):.3f})")
        names = list(runs[0][1]["metrics"])
        for name in names:
            values = [r["metrics"][name]["value"] for _, r in runs]
            med = statistics.median(values)
            if len(values) >= 2:
                q1, _, q3 = statistics.quantiles(values, n=4)
            else:
                q1 = q3 = values[0]
            share = (q3 - q1) / med if med else float("nan")
            print(f"  {name:34s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {share:7.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
