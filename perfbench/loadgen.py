#!/usr/bin/env python3
"""Open-loop file lander for stream_ingest, one process.

    python3 perfbench/loadgen.py --plan DIR --phase burst|live --landing DIR --t0 EPOCH --log FILE

Every file of the phase in the plan's manifest is due at ``t0 + due``. At its due time the lander gives the pre-rendered file
the current mtime and renames it into ``<landing>/<entity>/``: the stream
source sees either the whole file or nothing. The schedule never waits
for the system under test. The log holds one JSON line per file with its
due and landed wall-clock times, written when the schedule ends.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--phase", required=True, choices=("burst", "live"))
    ap.add_argument("--landing", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--log", required=True)
    args = ap.parse_args()

    with open(os.path.join(args.plan, "manifest.json")) as f:
        files = [x for x in json.load(f)["files"] if x["phase"] == args.phase]
    files.sort(key=lambda x: x["due"])
    log = []
    for x in files:
        due = args.t0 + x["due"]
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        src = os.path.join(args.plan, x["phase"], x["entity"], x["name"])
        dst = os.path.join(args.landing, x["entity"], x["name"])
        os.utime(src)
        os.rename(src, dst)
        log.append({"entity": x["entity"], "name": x["name"], "phase": x["phase"],
                    "due": due, "landed": time.time()})
    with open(args.log, "w") as f:
        for rec in log:
            f.write(json.dumps(rec) + "\n")


if __name__ == "__main__":
    main()
