#!/usr/bin/env python3
"""Benchmark entry point: one seeded run of one workload.

    python3 perfbench/run.py --workload batch_daily --seed 1 --seconds 7 --trace 0

Run it from the repository root. The workloads are ``batch_daily``,
``stream_ingest`` and ``curation`` (see perfbench/README.md). Inputs come
from ``--seed`` and are generated before any timing starts; the engine
only sees the generated files. ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. ``--cpus``
overrides the core count (``--cpus 1`` gives the serial baseline).

The last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the detail record (workload metrics by name, environment, ops).
Scratch files live under ``.perfbench_work/`` in the checkout and are
removed at exit; a traced run leaves its span dump in
``.perfbench_work/traces/``. The run stops the JVM and every process it
started before it prints.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("batch_daily", "stream_ingest", "curation")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def pin_environment(work: Path, cpus: int) -> dict:
    """Fix everything the engine reads from the environment, before it
    loads: core count, import path for Pandas-UDF workers, scratch and
    temp dirs inside the checkout, and the driver heap."""
    for sub in ("local", "tmp", "sf_dir"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        # The engine sizes spark.sql.shuffle.partitions from this dir's
        # bytes; an empty dir inside the checkout keeps the engine from
        # reading outside it and gives the cores floor. Recorded, not
        # overridden.
        "SPARK_GRAFT_SF_DIR": str(work / "sf_dir"),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": str(work / "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    }
    os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    os.environ.update(env)
    sys.path.insert(0, str(ROOT))
    return env


class Context:
    """What a workload needs: arguments, scratch dir, tracer, session."""

    def __init__(self, args, work: Path):
        from common import Tracer

        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.cpus = args.cpus
        self.work = work
        self.run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
        self.tracer = Tracer(self.trace, self.run_id)
        self.spark = None
        self.setup_s = 0.0
        self.setup_wall_s = 0.0
        self.session_start_s = 0.0

    def span(self, name: str):
        return self.tracer.span(name)

    def set_up(self, first_result) -> object:
        """Bring the session up once, cold, from ``get_spark`` (which
        launches the JVM) to ``first_result(spark)``, and return that
        result. ``setup_s`` is the CPU time the program used over that span
        (``tree_cpu_s``), ``setup_wall_s`` its wall time. A warm restart
        would reuse the JVM and hide its start, and a second cold start per
        run does not fit the run budget."""
        from common import tree_cpu_s
        from pinterest_data_pipeline_spark.session import get_spark

        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark(f"perfbench_{self.args.workload}", cpus=self.cpus)
        self.session_start_s = time.perf_counter() - t0
        out = first_result(self.spark)
        self.setup_wall_s = time.perf_counter() - t0
        self.setup_s = tree_cpu_s() - c0
        self.begin_measure()
        return out

    def begin_measure(self) -> None:
        """Mark the start of the measured phase: self times count from
        here and the JVM heap peaks start over."""
        from common import reset_jvm_heap_peaks

        self.measure_start = time.time()
        reset_jvm_heap_peaks(self.spark)

    def environment(self) -> dict:
        import pyspark

        conf = self.spark.sparkContext.getConf()
        return {
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": conf.get("spark.driver.memory", ""),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "nproc": _nproc(),
            "cpus": self.cpus,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=0, help="cores for local[n] (default: nproc)")
    args = ap.parse_args(argv)
    args.cpus = args.cpus or _nproc()

    if not (ROOT / "pinterest_data_pipeline_spark" / "session.py").is_file() or not (
        ROOT / "runner.py"
    ).is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = pin_environment(work, args.cpus)
    sys.path.insert(0, str(HERE))
    os.chdir(work)

    import importlib

    from common import cpu_times, stop_engine

    module = importlib.import_module(args.workload)
    ctx = Context(args, work)
    t_start = time.perf_counter()
    cpu0 = cpu_times()
    try:
        result = module.run(ctx)
    finally:
        if ctx.spark is not None:
            stop_engine(ctx.spark)
        if ctx.trace:
            ctx.tracer.dump(str(ROOT / ".perfbench_work" / "traces" / f"{ctx.run_id}.jsonl"))
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    result["detail"]["wall_s"] = time.perf_counter() - t_start
    cpu1 = cpu_times()
    # share of the machine's CPU time taken by other guests during the run
    result["detail"]["env"]["cpu_steal_share"] = (cpu1["steal"] - cpu0["steal"]) / max(
        1e-9, cpu1["total"] - cpu0["total"])
    result["detail"]["env"].update(
        {k: os.path.relpath(env[k], ROOT) for k in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_SF_DIR")}
    )
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace, **result["detail"]}))
    metrics = result["per_layer"] if ctx.trace else result["end_to_end"]
    print(
        json.dumps(
            {
                "correct": bool(result["correct"]),
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
