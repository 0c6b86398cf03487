"""The benchmark's metric names and units, and the result record.

``END_TO_END`` (what every untraced run prints and the gate compares) and
``PER_LAYER`` (what every traced run prints) are read from BENCHMARK.json
at the repository root, the one list of names and units. Each workload fills the
names it measures; a layer a workload never calls reads 0 there, which is
the prediction for that pairing. ``WORKLOAD_METRICS`` are the workload's
own figures, printed on the detail line of every untraced run.
"""

from __future__ import annotations

import json
from pathlib import Path

_SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

WORKLOAD_METRICS = {
    "batch_daily": {
        "batch_records_per_s": "1/s",
        "batch_job_p50_s": "s",
    },
    "stream_ingest": {
        "stream_latency_p50_s": "s",
        "stream_latency_p95_s": "s",
        "stream_burst_drain_s": "s",
        "stream_delivered_ratio": "ratio",
    },
    "curation": {
        "dedup_arrival_p50_s": "s",
        "dedup_docs_per_s": "1/s",
        "dedup_pair_recall": "ratio",
        "ann_batch_p50_s": "s",
        "ann_queries_per_s": "1/s",
        "ann_recall_at_10": "ratio",
    },
}

# Named per-layer figures that cannot be taken from outside the program
# without changing how it executes, with the reason.
OMITTED = {
    "runner.answer_write_s": (
        "each answer is written by the action that executes its query, so the "
        "parquet write and the query run in one Spark job; their sum is "
        "reference_queries.q<i>_s"
    ),
    "dedup.plan_s": (
        "incremental_minhash_dedup builds its plan and, in the same call, "
        "collects the batch's bucket keys; the call's whole time is "
        "dedup.candidates_s"
    ),
}


def self_time_metrics(ctx, per: int) -> dict:
    """``self.<layer>_s`` over the measured phase, divided by ``per``."""
    st = ctx.tracer.self_times(since=ctx.measure_start)
    return {f"self.{k}_s": v / per for k, v in st.items() if f"self.{k}_s" in PER_LAYER}


def result(workload: str, ctx, end_to_end: dict, per_layer: dict, detail: dict,
           attempted: int, failed: int, correct: bool, mem: dict) -> dict:
    """Assemble the record ``run.py`` prints, filling unmeasured layers with 0."""
    detail["memory_mb"] = mem
    unknown = (set(end_to_end) - set(END_TO_END)) | (set(per_layer) - set(PER_LAYER))
    if unknown:
        raise KeyError(f"unregistered metrics: {sorted(unknown)}")
    missing = set(END_TO_END) - set(end_to_end)
    if missing:
        raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    layer = {k: (per_layer.get(k, 0.0), u) for k, u in PER_LAYER.items()}
    e2e = {k: (end_to_end[k], u) for k, u in END_TO_END.items()}
    own = WORKLOAD_METRICS[workload]
    detail = {
        "metrics": {k: {"value": detail.pop(k), "unit": u} for k, u in own.items()},
        "setup_wall_s": ctx.setup_wall_s,
        "session_start_s": ctx.session_start_s,
        "omitted": OMITTED,
        "env": ctx.environment(),
        **detail,
    }
    return {
        "end_to_end": e2e,
        "per_layer": layer,
        "detail": detail,
        "attempted": attempted,
        "failed": failed,
        "correct": correct,
    }
