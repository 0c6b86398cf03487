"""curation: incremental near-dup dedup and IVF search on growing stores.

Set-up (see run.py): session, then 32 IVF centroids trained on
the base vectors (``train_ivf_centroids``). After set-up the base corpus
is loaded once: its MinHash signature store, its text store and the
cell-partitioned index of its vectors (``ivf_assign_cells``).

Closed loop of rounds, each a write step then a read step:
* write: one arrival through ``incremental_minhash_dedup`` against the
  signature store, its store delta and kept texts appended, and the kept
  vectors upserted into the index with ``ivf_assign_cells``;
* read: one query batch through ``ivf_search_index`` (k=10, n_probe=4).
The stores grow round by round, so reads always see the latest writes.

Checks, after the loop: every drop's partner is re-checked with an exact
word 3-gram Jaccard, every decision set covers its arrival exactly once,
and every query's top-10 equals the exact numpy top-10 over the cells it
probed; recall figures compare with planted pairs and exact global top-10.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

from checks import exact_topk, jaccard, nearest_cells
from common import dir_stats, median, memory_mb, tree_cpu_s
from inputs import QUERY_BATCH, generate
from metrics import result, self_time_metrics

N_CELLS = 32
N_PROBE = 4
K = 10
THRESHOLD = 0.5
# Rounds per run come from --seconds at this nominal cost, so a run
# always makes the same number of rounds.
NOMINAL_ROUND_S = 10.0


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        rows += sum(pq.ParquetFile(os.path.join(root, n)).metadata.num_rows
                    for n in names if n.endswith(".parquet"))
    return rows


def run(ctx) -> dict:
    from pinterest_data_pipeline_spark.operators import dedup, similarity
    from pinterest_data_pipeline_spark.session import persist_scoped

    data = str(ctx.work / "data")
    rounds = max(1, round(ctx.seconds / NOMINAL_ROUND_S))
    generate("curation", ctx.seed, data, rounds=rounds)
    with open(os.path.join(data, "manifest.json")) as f:
        manifest = json.load(f)
    p = lambda name: os.path.join(data, name)  # noqa: E731
    span = ctx.span
    state = {}

    def first_result(spark):
        vecs = spark.read.parquet(p("base_vecs.parquet"))
        t0 = time.perf_counter()
        with span("similarity.train"):
            centroids = similarity.train_ivf_centroids(vecs, n_cells=N_CELLS)
        state["train"] = time.perf_counter() - t0
        return centroids

    centroids = ctx.set_up(first_result)
    spark = ctx.spark
    sig_path, docs_path, index_path = (str(ctx.work / x) for x in ("signatures", "docs", "index"))
    # Load the base corpus into the stores once; timed per layer, not in
    # setup_s. The text store starts as a copy of the base corpus file.
    os.makedirs(docs_path)
    shutil.copy(p("base_docs.parquet"), os.path.join(docs_path, "part-base.parquet"))
    t0 = time.perf_counter()
    with span("dedup.store_build"):
        docs = spark.read.parquet(p("base_docs.parquet"))
        dedup.minhash_signatures(docs, "text", "doc_id").write.parquet(sig_path)
    store_build = time.perf_counter() - t0
    t0 = time.perf_counter()
    with span("similarity.index_build"):
        similarity.ivf_assign_cells(spark.read.parquet(p("base_vecs.parquet")), centroids).write.partitionBy(
            "cell").parquet(index_path)
    index_build = time.perf_counter() - t0
    ctx.begin_measure()

    arrivals, queries, rounds_cpu, decisions_log, results_log = [], [], [], [], []
    cand_pairs = 0
    for r in range(rounds):
        c0 = tree_cpu_s()
        # write step
        t0 = time.perf_counter()
        with span("op.arrival"):
            batch = spark.read.parquet(p(f"arrival{r}_docs.parquet"))
            store_sigs = spark.read.parquet(sig_path)
            store_docs = spark.read.parquet(docs_path)
            if ctx.trace:
                with span("dedup.signatures"):
                    persist_scoped(dedup.minhash_signatures(batch, "text", "doc_id"), "incr_batch_sigs").count()
            with span("dedup.candidates"):
                decisions, delta = dedup.incremental_minhash_dedup(
                    batch, store_sigs, store_docs, "text", "doc_id", threshold=THRESHOLD
                )
            with span("dedup.verify"):
                rows = [row.asDict() for row in decisions.collect()]
            kept = [row["doc_id"] for row in rows if row["action"] == "keep"]
            kept_df = spark.createDataFrame([(i,) for i in kept], "doc_id long")
            with span("dedup.store_append"):
                delta.write.mode("append").parquet(sig_path)
                batch.join(kept_df, "doc_id", "left_semi").write.mode("append").parquet(docs_path)
            with span("similarity.index_upsert"):
                vecs = spark.read.parquet(p(f"arrival{r}_vecs.parquet")).join(
                    kept_df.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi")
                similarity.ivf_assign_cells(vecs, centroids).write.mode("append").partitionBy(
                    "cell").parquet(index_path)
        arrivals.append(time.perf_counter() - t0)
        decisions_log.append(rows)
        if ctx.trace:
            # counted after the step, outside its timing; the store now
            # holds the step's own delta, which the probe must not see
            sigs = persist_scoped(dedup.minhash_signatures(batch, "text", "doc_id"), "incr_batch_sigs")
            before = spark.read.parquet(sig_path).join(batch.select("doc_id"), "doc_id", "left_anti")
            cand_pairs += dedup.incremental_candidates(sigs, before, "doc_id").count()

        # read step
        t0 = time.perf_counter()
        with span("op.query_batch"):
            with span("similarity.plan"):
                index = similarity.ivf_open_index(spark, index_path)
                q = spark.read.parquet(p(f"queries{r}.parquet"))
                found = similarity.ivf_search_index(index, q, centroids, k=K, n_probe=N_PROBE)
            with span("similarity.search"):
                res = found.collect()
        queries.append(time.perf_counter() - t0)
        results_log.append(res)
        rounds_cpu.append(tree_cpu_s() - c0)
    mem = memory_mb(spark)

    # --- checks -------------------------------------------------------------
    texts = {}
    names = ["base"] + [f"arrival{a}" for a in range(rounds)]
    for name in names:
        ids = np.load(p(f"{name}_ids.npy"))
        with open(p(f"{name}_texts.json")) as f:
            texts.update(zip(ids.tolist(), json.load(f)))
    failed_arrivals, bad_drops = 0, 0
    dropped = set()
    for r, rows in enumerate(decisions_log):
        want_ids = set(np.load(p(f"arrival{r}_ids.npy")).tolist())
        ok = sorted(row["doc_id"] for row in rows) == sorted(want_ids)
        for row in rows:
            if row["action"] != "drop":
                continue
            dropped.add(row["doc_id"])
            j = jaccard(texts[row["doc_id"]], texts[row["best_match_id"]])
            if j < THRESHOLD or round(j, 4) != row["best_jaccard"]:
                ok = False
                bad_drops += 1
        failed_arrivals += not ok
    processed = set().union(*(set(np.load(p(f"arrival{r}_ids.npy")).tolist()) for r in range(rounds)))
    planted = [(d, s) for d, s in manifest["planted"]
               if d in processed and jaccard(texts[d], texts[s]) >= THRESHOLD]
    pair_hits = sum(1 for d, _ in planted if d in dropped)

    cents = np.asarray(centroids, dtype=np.float64)
    idx_ids = [np.load(p("base_ids.npy"))]
    idx_vecs = [np.load(p("base_vecs.npy"))]
    failed_batches, ann_hits, cands = 0, 0, []
    for r in range(rounds):
        kept = {row["doc_id"] for row in decisions_log[r] if row["action"] == "keep"}
        a_ids = np.load(p(f"arrival{r}_ids.npy"))
        mask = np.array([i in kept for i in a_ids.tolist()], dtype=bool)
        idx_ids.append(a_ids[mask])
        idx_vecs.append(np.load(p(f"arrival{r}_vecs.npy"))[mask])
        ids, vecs = np.concatenate(idx_ids), np.concatenate(idx_vecs)
        cell = nearest_cells(vecs, cents, 1)[:, 0]
        qv = np.load(p(f"queries{r}.npy"))
        qids = list(range(10**9 + r * QUERY_BATCH, 10**9 + (r + 1) * QUERY_BATCH))
        got: dict[int, list] = {}
        for row in sorted(results_log[r], key=lambda x: (x["query_id"], x["rank"])):
            got.setdefault(row["query_id"], []).append(row["vec_id"])
        probes = nearest_cells(qv, cents, N_PROBE)
        exact = exact_topk(qv, ids, vecs, K)
        ok = True
        for i, qid in enumerate(qids):
            m = np.isin(cell, probes[i])
            cands.append(int(m.sum()))
            want = exact_topk(qv[i : i + 1], ids[m], vecs[m], K)[0]
            ok &= got.get(qid, []) == want
            ann_hits += len(set(got.get(qid, [])) & set(exact[i]))
        failed_batches += not ok

    n_docs = sum(len(rows) for rows in decisions_log)
    n_queries = rounds * QUERY_BATCH
    dedup_p50, ann_p50 = median(arrivals), median(queries)
    detail = {
        "dedup_arrival_p50_s": dedup_p50,
        "dedup_docs_per_s": n_docs / sum(arrivals),
        "dedup_pair_recall": pair_hits / len(planted) if planted else 1.0,
        "ann_batch_p50_s": ann_p50,
        "ann_queries_per_s": n_queries / sum(queries),
        "ann_recall_at_10": ann_hits / (K * n_queries),
        "op_wall_s": median([a + b for a, b in zip(arrivals, queries)]),
        "rounds": rounds,
        "rounds_cpu_s": rounds_cpu,
        "arrivals_s": arrivals,
        "query_batches_s": queries,
        "planted_pairs": len(planted),
        "bad_drops": bad_drops,
    }
    e2e = {
        "setup_s": ctx.setup_s,
        "jvm_heap_live_mb": mem["heap_live"],
        "work_cpu_s": median(rounds_cpu),
        "result_ratio": (pair_hits + ann_hits) / (len(planted) + K * n_queries),
    }
    layer = {}
    if ctx.trace:
        tot = lambda name: ctx.tracer.total(name) / rounds  # noqa: E731
        verified = sum(row["n_store_matches"] + row["n_prior_batch_matches"]
                       for rows in decisions_log for row in rows)
        layer = {
            "session.start_s": ctx.session_start_s,
            "session.shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "dedup.signatures_s": tot("dedup.signatures"),
            "dedup.candidates_s": tot("dedup.candidates"),
            "dedup.verify_s": tot("dedup.verify"),
            "dedup.store_append_s": tot("dedup.store_append"),
            "dedup.candidate_pairs": cand_pairs / rounds,
            "dedup.verified_pairs": verified / rounds,
            "dedup.verify_yield": verified / cand_pairs if cand_pairs else 0.0,
            "dedup.store_files_end": dir_stats(sig_path, ".parquet")[0],
            "dedup.store_rows_end": _parquet_rows(sig_path),
            "dedup.store_build_s": store_build,
            "similarity.train_s": state["train"],
            "similarity.index_build_s": index_build,
            "similarity.index_upsert_s": tot("similarity.index_upsert"),
            "similarity.index_files_end": dir_stats(index_path, ".parquet")[0],
            "similarity.search_s": tot("similarity.search"),
            "similarity.plan_s": tot("similarity.plan"),
            "similarity.candidates_per_query": median(cands),
            **self_time_metrics(ctx, rounds),
            "trace.op_wall_s": detail["op_wall_s"],
        }
    failed = failed_arrivals + failed_batches
    return result(
        "curation", ctx, e2e, layer, detail,
        attempted=2 * rounds, failed=failed, correct=failed == 0, mem=mem,
    )
