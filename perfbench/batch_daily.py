"""batch_daily: the reference's daily DAG through ``runner.run_batch``.

Closed loop, one job at a time: land the day's raw pin/geo/user JSON
(untimed), then run the whole job (raw JSON read, cleaning with cached
frames, Q1-Q9, answer write and read-back) back to back until the run's
seconds are used, at least once. Every job's answers are checked against
the DuckDB duals outside the timed region; a mismatch fails that job.

The traced run replays ``run_batch`` step by step through the same public
functions, with a span around each layer call and one materialisation
where the job already caches (the cleaned frames).
"""

from __future__ import annotations

import os
import time

from checks import BatchDuals
from common import JobGroups, dir_stats, median, memory_mb, tree_cpu_s
from inputs import generate
from metrics import result, self_time_metrics

# Rows per entity; the generator adds 5 % full-row duplicates.
ROWS = 5_000
# Jobs per run come from --seconds at this nominal cost, so a run always
# makes the same number of jobs.
NOMINAL_JOB_S = 10.0

QUERIES = (
    ("q1_top_category_per_country", "geo", {}),
    ("q2_category_counts_per_year", "geo", {}),
    ("q3_top_user_per_country", "geo", {}),
    ("q4_country_with_top_user", "geo", {}),
    ("q5_top_category_per_age_group", "user", {}),
    ("q6_median_followers_per_age_group", "user", {"approx": False}),
    ("q7_users_joined_per_year", None, {}),
    ("q8_median_followers_by_join_year", "user", {"approx": False}),
    ("q9_median_followers_by_join_year_and_age", "user", {"approx": False}),
)


def traced_job(ctx, spark, groups: JobGroups, landing: str, out: str, layer: dict) -> None:
    """``runner.run_batch`` with a span around every layer call.

    A copy of ``runner.run_batch``: keep its calls and their order in step
    with it (each answer is read back right after it is written)."""
    from pinterest_data_pipeline_spark.operators import cleaning
    from pinterest_data_pipeline_spark.plans import reference_queries as rq
    from pinterest_data_pipeline_spark.schemas import (
        GEO_RAW_SCHEMA,
        PIN_RAW_SCHEMA,
        USER_RAW_SCHEMA,
    )

    span = ctx.span
    with span("runner.json_scan"):
        raw = {
            e: spark.read.schema(s).json(os.path.join(landing, e))
            for e, s in (("pin", PIN_RAW_SCHEMA), ("geo", GEO_RAW_SCHEMA), ("user", USER_RAW_SCHEMA))
        }
    with span("cleaning.plan"):
        cleaned = {
            "pin": cleaning.clean_pin(raw["pin"]).cache(),
            "geo": cleaning.clean_geo(raw["geo"]).cache(),
            "user": cleaning.clean_user(raw["user"]).cache(),
        }
        for name, df in cleaned.items():
            df.createOrReplaceTempView(f"cleaned_{name}")
    with span("cleaning.clean"):
        rows_out = sum(df.count() for df in cleaned.values())
    layer["cleaning.rows_out"] = rows_out
    answers = {}
    for name, other, kw in QUERIES:
        qi = name.split("_", 1)[0]
        with span(f"reference_queries.plan.{qi}"):
            fn = getattr(rq, name)
            args = (cleaned["user"],) if other is None else (cleaned["pin"], cleaned[other])
            answers[name] = fn(*args, **kw)
    for name, df in answers.items():
        qi = name.split("_", 1)[0]
        with span(f"reference_queries.{qi}"), groups.scope(f"reference_queries.{qi}"):
            df.write.mode("overwrite").parquet(os.path.join(out, name))
        with span("runner.readback"):
            spark.read.parquet(os.path.join(out, name)).count()


def run(ctx) -> dict:
    import runner
    from pinterest_data_pipeline_spark.schemas import PIN_RAW_SCHEMA

    landing = str(ctx.work / "landing")
    generate("batch_daily", ctx.seed, landing, rows=ROWS)
    raw_records = 0
    for e in ("pin", "geo", "user"):
        with open(os.path.join(landing, e, "part-0.json")) as f:
            raw_records += sum(1 for _ in f)

    def first_result(spark):
        return spark.read.schema(PIN_RAW_SCHEMA).json(os.path.join(landing, "pin")).count()

    ctx.set_up(first_result)
    spark = ctx.spark
    groups = JobGroups(spark, ctx.run_id)
    layer: dict = {}
    jobs: list[float] = []
    jobs_cpu: list[float] = []
    for _ in range(max(1, round(ctx.seconds / NOMINAL_JOB_S))):
        spark.catalog.clearCache()
        out = str(ctx.work / f"answers{len(jobs)}")
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        if ctx.trace:
            with ctx.span("op.job"):
                traced_job(ctx, spark, groups, landing, out, layer)
        else:
            runner.run_batch(spark, landing, out)
        jobs.append(time.perf_counter() - t0)
        jobs_cpu.append(tree_cpu_s() - c0)
    mem = memory_mb(spark)

    duals = BatchDuals(landing)
    bad = [duals.mismatches(str(ctx.work / f"answers{i}")) for i in range(len(jobs))]
    failed = sum(1 for b in bad if b)
    job_p50 = median(jobs)
    detail = {
        "batch_records_per_s": raw_records / job_p50,
        "batch_job_p50_s": job_p50,
        "op_wall_s": job_p50,
        "jobs_s": jobs,
        "jobs_cpu_s": jobs_cpu,
        "mismatched_answers": sorted({n for b in bad for n in b}),
        "raw_records": raw_records,
        "rows_per_entity": ROWS,
    }
    e2e = {
        "setup_s": ctx.setup_s,
        "jvm_heap_live_mb": mem["heap_live"],
        "work_cpu_s": median(jobs_cpu),
        "result_ratio": (len(jobs) - failed) / len(jobs),
    }
    n = len(jobs)
    q ={f"reference_queries.{name.split('_', 1)[0]}_s": ctx.tracer.total(f"reference_queries.{name.split('_', 1)[0]}") / n
         for name, _, _ in QUERIES}
    files, size = dir_stats(out, ".parquet")
    layer.update(
        {
            "session.start_s": ctx.session_start_s,
            "session.shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "runner.json_scan_s": ctx.tracer.total("runner.json_scan") / n,
            "runner.readback_s": ctx.tracer.total("runner.readback") / n,
            "runner.answer_files": files,
            "runner.answer_bytes": size,
            "cleaning.clean_s": ctx.tracer.total("cleaning.clean") / n,
            "cleaning.plan_s": ctx.tracer.total("cleaning.plan") / n,
            "cleaning.rows_in": raw_records,
            "cleaning.keep_ratio": layer.get("cleaning.rows_out", 0) / raw_records,
            **q,
            "reference_queries.plan_s": sum(
                s["end"] - s["start"] for s in ctx.tracer.spans if s["name"].startswith("reference_queries.plan.")
            ) / n,
            **{f"reference_queries.{k}": v / n for k, v in groups.counts().items()},
            **self_time_metrics(ctx, n),
            "trace.op_wall_s": job_p50,
        }
    )
    return result(
        "batch_daily", ctx, e2e, layer if ctx.trace else {}, detail,
        attempted=len(jobs), failed=failed, correct=failed == 0, mem=mem,
    )
