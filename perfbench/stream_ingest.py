"""stream_ingest: the three entity streams of ``run_streaming_pipeline``
under an open-loop file load.

Set-up (see run.py): session, then the three queries started on the
empty landing dir until each has run its first trigger and waits for
data. Measured phase, on those queries: at t0 the load generator (a separate
process) lands one backlog burst file per entity; the burst drains from a
cold micro-batch path, as a restarted stream catches up. Once every
stream has committed the burst and the no-data batch after it, the live
phase lands one file of 500 records per entity every 0.5 s for the run's
seconds, whatever the system is doing. After the last file the benchmark
waits for every landed file to be committed.

Latency of a file is the commit time of the micro-batch that read it
(commit file in the checkpoint) minus the file's due time; which batch
read which file comes from the source and offset logs. Per-trigger
figures come from a StreamingQueryListener, which sees every progress
event (``recentProgress`` keeps only the last 100).

Known engine defect this workload shows: after the first micro-batch the
watermark sits at the newest historic event time seen, so later geo and
user records (historic timestamps, as the reference's emulator replays
them) are dropped as late. Lost records count as failed ops and lower the
delivered ratio; event times are not re-stamped.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

from common import dir_stats, median, memory_mb, percentile, tree_cpu_s
from inputs import generate
from metrics import result, self_time_metrics

ENTITIES = ("pin", "geo", "user")
DRAIN_TIMEOUT_S = 90.0
LAG_BOUND_S = 0.5
POLL_S = 0.02


def _listener_class():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Every progress event of every query, as parsed JSON."""

        def __init__(self):
            self.events: list[dict] = []
            self.lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            with self.lock:
                self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog


def _file_batches(ckpt: str) -> dict[str, int]:
    """File name -> id of the micro-batch that read it.

    The file source's metadata log stamps each file with the source's own
    log offset, which runs behind the query's batch id once no-data
    batches have run; the offset log maps them back: a file belongs to
    the first batch whose end offset reaches the file's source offset.
    """
    ends = []
    for path in glob.glob(os.path.join(ckpt, "offsets", "*")):
        base = os.path.basename(path)
        if not base.isdigit():
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()
            ends.append((json.loads(lines[2])["logOffset"], int(base)))
        except (OSError, IndexError, ValueError, KeyError):
            continue
    ends.sort()
    out = {}
    for name, offset in _source_log(ckpt).items():
        batch = next((b for end, b in ends if end >= offset), None)
        if batch is not None:
            out[name] = batch
    return out


def _source_log(ckpt: str) -> dict[str, int]:
    """File name -> source log offset, from the file source's metadata log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        base = os.path.basename(path)
        if base.startswith(".") or base.endswith(".tmp"):
            continue
        try:
            with open(path) as f:
                lines = f.read().splitlines()[1:]
        except OSError:
            continue
        for line in lines:
            try:
                rec = json.loads(line)
            except ValueError:
                continue
            out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def _commits(ckpt: str) -> dict[int, float]:
    """Batch id -> commit time (mtime of the checkpoint's commit file)."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "commits", "*")):
        base = os.path.basename(path)
        if base.isdigit():
            out[int(base)] = os.stat(path).st_mtime_ns / 1e9
    return out


def _start(ctx, spark, landing: str, out: str):
    """``run_streaming_pipeline`` (default trigger); the traced run makes
    the same calls with a span around each layer."""
    from pinterest_data_pipeline_spark import streaming
    from pinterest_data_pipeline_spark.streaming import pipeline

    ckpt = os.path.join(out, "_checkpoints")
    if not ctx.trace:
        return streaming.run_streaming_pipeline(spark, landing, out, ckpt)
    queries = []
    for entity in ENTITIES:
        with ctx.span("streaming.source_plan"):
            src = pipeline.read_entity_stream(spark, landing, entity)
        with ctx.span("cleaning.plan"):
            cleaned = pipeline.stream_clean_entity(src, entity, pipeline.DEFAULT_WATERMARK)
        with ctx.span("streaming.start"):
            queries.append(pipeline.write_entity_stream(cleaned, entity, out, ckpt))
    return queries


def _wait_polling(queries, timeout: float = 120.0) -> None:
    """Until every query has run its first trigger and waits for data."""
    deadline = time.time() + timeout
    while not all(q.status["message"] == "Waiting for data to arrive" for q in queries):
        if time.time() > deadline:
            raise TimeoutError("streams did not start polling their source")
        time.sleep(POLL_S)


def _wait_commit(out: str, batch: int) -> None:
    """Until every stream has committed micro-batch ``batch``, or the
    drain timeout passes (the run then reports the backlog)."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline and not all(
        batch in _commits(os.path.join(out, "_checkpoints", e)) for e in ENTITIES
    ):
        time.sleep(POLL_S)


def _stop(queries) -> None:
    for q in queries:
        q.stop()


def _trigger_spans(ctx, events: list[dict]) -> None:
    """Spans rebuilt from progress events: the trigger and its phases,
    laid end to end in the order the micro-batch runs them."""
    order = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
    names = {"latestOffset": "latest_offset", "walCommit": "wal_commit", "getBatch": "get_batch",
             "queryPlanning": "query_planning", "addBatch": "add_batch", "commitOffsets": "commit_offsets"}
    for ev in events:
        start = datetime.fromisoformat(ev["timestamp"].replace("Z", "+00:00")).timestamp()
        d = ev["durationMs"]
        trig = ctx.tracer.add("streaming.trigger", start, start + d["triggerExecution"] / 1000.0)
        t = start
        for k in order:
            if k in d:
                ctx.tracer.add(f"streaming.{names[k]}", t, t + d[k] / 1000.0, parent=trig["id"])
                t += d[k] / 1000.0


def run(ctx) -> dict:
    import pyarrow.parquet as pq

    plan = str(ctx.work / "plan")
    generate("stream_ingest", ctx.seed, plan, seconds=ctx.seconds)
    with open(os.path.join(plan, "manifest.json")) as f:
        manifest = json.load(f)
    files = manifest["files"]
    landing = str(ctx.work / "landing")
    for e in ENTITIES:
        os.makedirs(os.path.join(landing, e))

    out = str(ctx.work / "sink")
    log = None

    def first_result(spark):
        nonlocal log
        log = _listener_class()()
        spark.streams.addListener(log)
        queries = _start(ctx, spark, landing, out)
        _wait_polling(queries)
        return queries

    queries = ctx.set_up(first_result)
    spark = ctx.spark
    ids = {q.id: e for q, e in zip(queries, ENTITIES)}

    def land(phase: str, start: float) -> list[dict]:
        log_path = str(ctx.work / f"loadgen-{phase}.jsonl")
        gen = subprocess.Popen([sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
                                "--plan", plan, "--phase", phase, "--landing", landing,
                                "--t0", repr(start), "--log", log_path])
        try:
            gen.wait(timeout=ctx.seconds + 60)
        finally:
            if gen.poll() is None:
                gen.kill()
                gen.wait()
        with open(log_path) as f:
            return [json.loads(line) for line in f]

    c0 = tree_cpu_s()
    t0 = time.time() + 0.5
    landed = land("burst", t0)
    # The live phase starts once each stream has committed the burst and
    # the no-data batch after it: late filtering in a micro-batch uses the
    # watermark of the batch before, so a live file read right after the
    # burst would meet the older watermark and the delivered share would
    # depend on how fast the burst drained.
    _wait_commit(out, 1)
    landed += land("live", time.time() + 0.5)
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        pending = 0
        for e in ENTITIES:
            ckpt = os.path.join(out, "_checkpoints", e)
            read_by = _file_batches(ckpt)
            done = _commits(ckpt)
            pending += sum(1 for x in landed if x["entity"] == e and read_by.get(x["name"]) not in done)
        if pending == 0 or time.time() > deadline:
            break
        time.sleep(0.1)
    t_end = time.time()
    work_cpu = tree_cpu_s() - c0
    # read while the queries still hold their state
    mem = memory_mb(spark)
    _stop(queries)

    # progress events arrive asynchronously; wait until every committed
    # batch of the measured queries has reported
    commits = {e: _commits(os.path.join(out, "_checkpoints", e)) for e in ENTITIES}
    want = sum(len(c) for c in commits.values())
    settle = time.time() + 10
    while time.time() < settle:
        with log.lock:
            got = sum(1 for ev in log.events if ev["id"] in ids and "addBatch" in ev["durationMs"])
        if got >= want:
            break
        time.sleep(0.05)
    with log.lock:
        events = [ev for ev in log.events if ev["id"] in ids and "addBatch" in ev["durationMs"]]

    # latency and drain from the checkpoint
    latencies, burst_done, backlog = [], [], 0
    for e in ENTITIES:
        src = _file_batches(os.path.join(out, "_checkpoints", e))
        for x in landed:
            if x["entity"] != e:
                continue
            b = src.get(x["name"])
            if b is None or b not in commits[e]:
                backlog += 1
                continue
            lat = commits[e][b] - x["due"]
            (burst_done if x["phase"] == "burst" else latencies).append(lat)
    lag_max = max(x["landed"] - x["due"] for x in landed)

    # delivery: distinct offered records vs what the sinks hold
    offered = {e: set() for e in ENTITIES}
    burst_lines = 0
    for x in files:
        offered[x["entity"]].update(x["indexes"])
        if x["phase"] == "burst":
            burst_lines += x["lines"]
    delivered = duplicates = rows_out = 0
    per_entity = {}
    for e in ENTITIES:
        path = os.path.join(out, e)
        inds = pq.read_table(path, columns=["ind"]).column("ind").to_pylist() if glob.glob(os.path.join(path, "*.parquet")) else []
        rows_out += len(inds)
        duplicates += len(inds) - len(set(inds))
        got = set(inds) & offered[e]
        delivered += len(got)
        per_entity[e] = len(got) / len(offered[e])
    attempted = sum(len(offered[e]) for e in ENTITIES)
    lost = attempted - delivered
    failed = lost + duplicates
    valid = lag_max <= LAG_BOUND_S and backlog == 0

    n = len(latencies)
    tail_q = next((q for q in (99, 95, 90, 75, 50) if n * (1 - q / 100.0) >= 10), 50)
    drain = max(burst_done) if burst_done else float("nan")
    detail = {
        "stream_latency_p50_s": median(latencies),
        "stream_latency_p95_s": percentile(latencies, 95),
        "stream_burst_drain_s": drain,
        "stream_delivered_ratio": delivered / attempted,
        "latency_samples": n,
        "latencies_s": sorted(latencies),
        "tail_percentile": tail_q,
        "stream_latency_tail_s": percentile(latencies, tail_q),
        "op_wall_s": median(latencies),
        "delivered_by_entity": per_entity,
        "duplicates_delivered": duplicates,
        "offered_records": attempted,
        "burst_lines": burst_lines,
        "loadgen_lag_max_s": lag_max,
        "valid": valid,
    }
    e2e = {
        "setup_s": ctx.setup_s,
        "jvm_heap_live_mb": mem["heap_live"],
        "work_cpu_s": work_cpu,
        "result_ratio": delivered / attempted,
    }
    layer = {}
    if ctx.trace:
        _trigger_spans(ctx, events)
        dur = lambda k: [ev["durationMs"].get(k, 0) / 1000.0 for ev in events]  # noqa: E731
        states = [ev["stateOperators"][0] for ev in events if ev.get("stateOperators")]
        last_state = {}
        for ev in events:
            if ev.get("stateOperators"):
                last_state[ev["id"]] = ev["stateOperators"][0]
        burst_batches = [
            ev["durationMs"]["triggerExecution"] / 1000.0 for ev in events if ev["batchId"] == 0
        ]
        sink_files = sink_bytes = 0
        for e in ENTITIES:
            f_, b_ = dir_stats(os.path.join(out, e), ".parquet")
            sink_files += f_
            sink_bytes += b_
        rows_in = sum(ev["numInputRows"] for ev in events)
        layer = {
            "session.start_s": ctx.session_start_s,
            "session.shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "cleaning.plan_s": ctx.tracer.total("cleaning.plan"),
            "cleaning.rows_in": rows_in,
            "cleaning.rows_out": rows_out,
            "cleaning.keep_ratio": rows_out / rows_in if rows_in else 0.0,
            "streaming.triggers": len(events),
            "streaming.trigger_p50_s": median(dur("triggerExecution")),
            "streaming.trigger_max_s": max(dur("triggerExecution")),
            "streaming.latest_offset_p50_s": median(dur("latestOffset")),
            "streaming.query_planning_p50_s": median(dur("queryPlanning")),
            "streaming.wal_commit_p50_s": median(dur("walCommit")),
            "streaming.commit_offsets_p50_s": median(dur("commitOffsets")),
            "streaming.busy_share": sum(dur("triggerExecution")) / (len(ENTITIES) * (t_end - t0)),
            "streaming.add_batch_p50_s": median(dur("addBatch")),
            "streaming.burst_trigger_s": max(burst_batches) if burst_batches else 0.0,
            "streaming.rows_per_trigger_p50": median([ev["numInputRows"] for ev in events]),
            "streaming.state_rows_end": sum(s["numRowsTotal"] for s in last_state.values()),
            "streaming.state_bytes_end": sum(s["memoryUsedBytes"] for s in last_state.values()),
            "streaming.state_commit_p50_s": median([s.get("commitTimeMs", 0) / 1000.0 for s in states]),
            "streaming.rows_dropped_by_watermark": sum(s.get("numRowsDroppedByWatermark", 0) for s in states),
            "streaming.sink_files": sink_files,
            "streaming.sink_bytes": sink_bytes,
            "streaming.backlog_files_end": backlog,
            "loadgen.lag_max_s": lag_max,
            **self_time_metrics(ctx, 1),
            "trace.op_wall_s": median(latencies),
        }
    return result(
        "stream_ingest", ctx, e2e, layer, detail,
        attempted=attempted, failed=failed, correct=valid and duplicates == 0, mem=mem,
    )
