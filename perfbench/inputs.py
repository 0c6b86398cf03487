#!/usr/bin/env python3
"""Seeded input generation, run as its own process before timing starts.

    python3 perfbench/inputs.py <workload> --seed N --dir DIR [--rows N] [--seconds S] [--rounds N]

The same seed gives byte-identical inputs. Running it in a child process
keeps the generator's memory out of the driver's peak resident set.

* batch_daily: raw pin/geo/user JSON for one day, via ``runner.land_raw``.
* stream_ingest: envelope files rendered ahead of time (burst and live),
  plus ``manifest.json`` giving each file's phase, due offset and the
  distinct records it offers.
* curation: a base corpus and its embeddings, arrivals with planted
  one-token-edit near-duplicates, and query batches, as parquet and .npy.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys

# stream_ingest shape: records per live file per entity, and its period.
LIVE_RECORDS = 500
LIVE_PERIOD_S = 0.5
# The backlog lands as one file per entity, so each stream reads the whole
# burst in its first micro-batch.
BURST_RECORDS = 8_000

# curation shape
STORE_DOCS = 2_000
ARRIVAL_DOCS = 300
PLANTED_SHARE = 0.10
QUERY_BATCH = 50
DIM = 64
CLUSTERS = 48
VOCAB = 4_000


def generate(workload: str, seed: int, out_dir: str, **kw) -> None:
    """Run this file as a child process and wait for it."""
    cmd = [sys.executable, os.path.abspath(__file__), workload, "--seed", str(seed), "--dir", out_dir]
    for k, v in kw.items():
        cmd += [f"--{k}", str(v)]
    subprocess.run(cmd, check=True)


def _batch(out_dir: str, seed: int, rows: int) -> None:
    import runner

    runner.land_raw(out_dir, rows, seed=seed)


def _write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def _stream(out_dir: str, seed: int, seconds: float) -> None:
    """Burst and live envelope files for the three entity streams.

    Row i of every entity belongs to the same emulated post, so a record
    reaches the pin, geo and user streams in the same file slot, as the
    reference's emulator sends one row's three payloads together. The
    generator's full-row duplicates ride in the same phase as their
    original, at a seeded position.
    """
    from pinterest_data_pipeline_spark.sources.emitter import envelope_line
    from pinterest_data_pipeline_spark.sources.generator import make_raw_entities

    n_live_files = max(1, round(seconds / LIVE_PERIOD_S))
    n = BURST_RECORDS + n_live_files * LIVE_RECORDS
    pins, geos, users = make_raw_entities(n=n, seed=seed)
    rng = random.Random(seed + 1)
    triples = list(zip(pins, geos, users))
    slots = {"burst": triples[:BURST_RECORDS], "live": triples[BURST_RECORDS:n]}
    for d in triples[n:]:
        lst = slots["burst" if d[0]["index"] < BURST_RECORDS else "live"]
        lst.insert(rng.randrange(len(lst) + 1), d)

    files = []

    def emit(phase: str, name: str, chunk: list, due: float) -> None:
        for k, entity in enumerate(("pin", "geo", "user")):
            lines = [envelope_line(entity, t[k]) for t in chunk]
            _write_lines(os.path.join(out_dir, phase, entity, name), lines)
            files.append({"entity": entity, "phase": phase, "name": name, "due": due,
                          "lines": len(lines), "indexes": sorted({t[k]["index"] for t in chunk})})

    emit("burst", "part-burst.json", slots["burst"], 0.0)
    live = slots["live"]
    per_file = -(-len(live) // n_live_files)
    for k in range(n_live_files):
        emit("live", f"part-live-{k:04d}.json", live[k * per_file:(k + 1) * per_file],
             k * LIVE_PERIOD_S)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"files": files, "live_files": n_live_files}, f)


def _words(rng: random.Random, vocab: list[str], n: int) -> list[str]:
    return [vocab[rng.randrange(len(vocab))] for _ in range(n)]


def _curation(out_dir: str, seed: int, rounds: int) -> None:
    """Base corpus, and per round an arrival with planted near-duplicates
    and a query batch.

    Text: single-space words from a seeded vocabulary, 30-60 tokens. A
    planted near-duplicate copies a base document and replaces one token,
    which keeps word 3-gram Jaccard near 0.85 - above the 0.5 threshold.
    Embeddings: 64-d unit vectors around seeded cluster centres; queries
    are perturbed copies of random corpus vectors.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    nrng = np.random.default_rng(seed)
    vocab = [f"w{i}{chr(97 + i % 26)}" for i in range(VOCAB)]
    centres = nrng.normal(size=(CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)

    def vectors(m: int) -> np.ndarray:
        v = centres[nrng.integers(0, CLUSTERS, size=m)] + 0.35 * nrng.normal(size=(m, DIM)) / np.sqrt(DIM)
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    def write(name: str, ids: list[int], texts: list[str], vecs: np.ndarray) -> None:
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
                       os.path.join(out_dir, f"{name}_docs.parquet"))
        pq.write_table(pa.table({"vec_id": pa.array(ids, pa.int64()),
                                 "embedding": pa.array(list(vecs), pa.list_(pa.float64()))}),
                       os.path.join(out_dir, f"{name}_vecs.parquet"))
        np.save(os.path.join(out_dir, f"{name}_ids.npy"), np.asarray(ids, dtype=np.int64))
        np.save(os.path.join(out_dir, f"{name}_vecs.npy"), vecs)
        with open(os.path.join(out_dir, f"{name}_texts.json"), "w") as f:
            json.dump(texts, f)

    os.makedirs(out_dir, exist_ok=True)
    base_texts = [" ".join(_words(rng, vocab, rng.randint(30, 60))) for _ in range(STORE_DOCS)]
    base_vecs = vectors(STORE_DOCS)
    write("base", list(range(STORE_DOCS)), base_texts, base_vecs)
    planted = []
    next_id = STORE_DOCS
    for a in range(rounds):
        ids, texts = [], []
        for _ in range(ARRIVAL_DOCS):
            if rng.random() < PLANTED_SHARE:
                src = rng.randrange(STORE_DOCS)
                toks = base_texts[src].split(" ")
                toks[rng.randrange(len(toks))] = vocab[rng.randrange(len(vocab))]
                texts.append(" ".join(toks))
                planted.append([next_id, src])
            else:
                texts.append(" ".join(_words(rng, vocab, rng.randint(30, 60))))
            ids.append(next_id)
            next_id += 1
        write(f"arrival{a}", ids, texts, vectors(ARRIVAL_DOCS))
    for b in range(rounds):
        q = base_vecs[nrng.integers(0, STORE_DOCS, size=QUERY_BATCH)] + 0.2 * nrng.normal(size=(QUERY_BATCH, DIM)) / np.sqrt(DIM)
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        qids = list(range(10**9 + b * QUERY_BATCH, 10**9 + (b + 1) * QUERY_BATCH))
        pq.write_table(pa.table({"vec_id": pa.array(qids, pa.int64()),
                                 "embedding": pa.array(list(q), pa.list_(pa.float64()))}),
                       os.path.join(out_dir, f"queries{b}.parquet"))
        np.save(os.path.join(out_dir, f"queries{b}.npy"), q)
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"planted": planted}, f)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("workload", choices=("batch_daily", "stream_ingest", "curation"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rows", type=int, default=5_000, help="batch_daily: rows per entity")
    ap.add_argument("--seconds", type=float, default=7.0, help="stream_ingest: live phase length")
    ap.add_argument("--rounds", type=int, default=1, help="curation: arrivals and query batches")
    args = ap.parse_args()
    if args.workload == "batch_daily":
        _batch(args.dir, args.seed, args.rows)
    elif args.workload == "stream_ingest":
        _stream(args.dir, args.seed, args.seconds)
    else:
        _curation(args.dir, args.seed, args.rounds)


if __name__ == "__main__":
    main()
