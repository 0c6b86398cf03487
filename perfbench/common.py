"""Shared pieces of the benchmark: spans, statistics, memory, job-group counts.

Nothing here imports pyspark at module level: ``run.py`` pins the
environment (cores, PYTHONPATH, scratch dirs) before the engine loads.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder, written out once at exit.

    A span is ``{id, name, parent, run, start, end}`` with times in
    seconds from ``time.time()`` (wall clock, so spans built from Spark's
    streaming progress events share the axis). The layer of a span is the
    part of its name before the first dot. When disabled, ``span`` only
    yields and records nothing, so untraced runs pay one branch per call.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = self.add(name, time.time(), None)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None = None) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent,
            "run": self.run_id,
            "start": start,
            "end": end,
        }
        self.spans.append(rec)
        return rec

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Per-layer self time of the spans that start at or after
        ``since``: each span's duration minus the union of the intervals
        its children cover, summed by layer."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["start"] < since:
                continue
            covered = 0.0
            cur_end = None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if cur_end is not None:
                    lo = max(lo, cur_end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class JobGroups:
    """Spark work of chosen layer calls, counted through job groups.

    Jobs started inside ``scope(name)`` belong to a fresh job group;
    ``counts`` reads their jobs, stages, tasks and failed tasks back from
    the status tracker.
    """

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.groups: list[str] = []

    @contextmanager
    def scope(self, name: str):
        group = f"{self.run_id}:{name}:{len(self.groups)}"
        self.groups.append(group)
        self.sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = stages = tasks = failed = 0
        for group in self.groups:
            for jid in tracker.getJobIdsForGroup(group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                jobs += 1
                for sid in info.stageIds:
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    return xs[max(0, math.ceil(q / 100.0 * len(xs)) - 1)]


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def memory_mb(spark) -> dict[str, float]:
    """Memory figures (MB) at the end of a measured phase: the JVM heap
    (``jvm_heap_mb``, prefixed ``heap_``) and the peak resident set of the
    driver Python, the JVM and both."""
    from pyspark import SparkContext

    out = {f"heap_{k}": v for k, v in jvm_heap_mb(spark).items()}
    py = vm_hwm_mb(os.getpid())
    # the gateway's process is spark-submit, which execs the driver JVM
    jvm = vm_hwm_mb(SparkContext._gateway.proc.pid)
    out.update({"rss_python": py, "rss_jvm": jvm, "rss_total": py + jvm})
    return out


def cpu_times() -> dict[str, float]:
    """CPU seconds of the machine so far, over all cores, from /proc/stat:
    ``steal`` (time the hypervisor gave this VM's cores to other guests)
    and ``total``."""
    with open("/proc/stat") as f:
        x = [int(v) / os.sysconf("SC_CLK_TCK") for v in f.readline().split()[1:9]]
    return {"steal": x[7], "total": sum(x)}


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it, children they have reaped included: the driver
    Python, the JVM and its Python workers.

    Only time a core really ran is counted; time other guests take from
    this VM's cores is booked as steal, so the figure does not grow when
    the host is busy, as wall time does."""
    children: dict[int, list[int]] = {}
    used: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after "(comm)": state, ppid, ..., utime, stime, cutime, cstime
        fields = stat[stat.rfind(")") + 2 :].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        used[int(name)] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += used.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def reset_jvm_heap_peaks(spark) -> None:
    """Start the JVM heap pools' peak usage over from their current use."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().toString() == "Heap memory":
            pool.resetPeakUsage()


def jvm_heap_mb(spark) -> dict[str, float]:
    """JVM heap figures (MB): ``peak``, the heap pools' peak use since the
    last ``reset_jvm_heap_peaks`` summed, then ``live``, the heap in use
    after a full GC, which is what the program still holds.

    ``peak`` follows the collector's sizing more than the program (750-1250
    MB across five curation seeds); ``live`` repeats within 3 % across
    seeds and is the gated figure."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    peak = sum(
        pool.getPeakUsage().getUsed() / 2**20
        for pool in mf.getMemoryPoolMXBeans()
        if pool.getType().toString() == "Heap memory"
    )
    # The first GC frees the owners of broadcast and shuffle blocks; Spark's
    # ContextCleaner then drops the blocks on its own thread, and the second
    # GC frees them. One GC alone read 131 or 147 MB on one curation seed.
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    live = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
    return {"peak": peak, "live": live}


def stop_engine(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    # the JVM exits when its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` for data files, skipping hidden and
    underscore-prefixed names (Spark's metadata and temp files)."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size
