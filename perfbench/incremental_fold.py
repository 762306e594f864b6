"""incremental_fold: the lambda path, folding ingest deltas into clusters.

One operation is one micro-batch: `make_signature_sink(store,
history_dedup=True, band_store=True)` lands it (store writes), then
`cluster_store_incremental(use_band_store=True)` folds it into the previous
fold's labels (store reads). The store is seeded with one batch and one
full `cluster_store`, cached with the corpus.

The folds chain the way the docstring says: each fold's result is the next
fold's `prev_components`, never round-tripped through parquet, in one
session. The chain is FOLDS long. Every fold carries its labels' join-size
estimate forward and Catalyst's size-only stats visitor multiplies them,
so planning time grows with the chain; on a 4-vCPU VM the 5th fold took
183 s after four folds of 7-11 s. FOLDS = 4 shows the growth in
`fold_last_s` and still ends inside the 180 s run limit. The window is the
chain, not `--seconds`.

A warm-up micro-batch runs into a throwaway copy of the store first, so a
run whose store came from the cache starts as warm as one that seeded it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time

import checks
import corpus
import probes
from harness import dir_stats

NAME = "incremental_fold"
SIZES = {
    "full": dict(n_base=60, dup_frac=0.3, near_frac=0.3, n_const=4,
                 min_ms=1_000, max_ms=4_000),
    "tiny": dict(n_base=12, dup_frac=0.3, near_frac=0.3, n_const=2,
                 min_ms=500, max_ms=1_000),
}
FOLDS = 4
N_BATCHES = 1 + FOLDS  # batch 0 seeds the store


def _assign(entry: str, seed: int) -> dict[str, int]:
    """clip_id -> micro-batch: clips in a seeded order, dealt round-robin,
    so batches are equal in size and duplicates land in any batch."""
    import pyarrow.parquet as pq

    ids = pq.read_table(os.path.join(entry, "clips"),
                        columns=["clip_id"]).column("clip_id").to_pylist()
    ids.sort(key=lambda i: hashlib.sha256(f"{seed}:{i}".encode()).digest())
    return {clip_id: k % N_BATCHES for k, clip_id in enumerate(ids)}


def _batch(df, assign: dict[str, int], b: int):
    from pyspark.sql import functions as F

    return df.filter(F.col("clip_id").isin([i for i, k in assign.items() if k == b]))


def _sink(store: str):
    from go_cdc_chunkers_spark.streaming.lambda_arch import make_signature_sink

    return make_signature_sink(store, history_dedup=True, band_store=True)


def prepare(r):
    def seed_store(tmp):
        from go_cdc_chunkers_spark.streaming.lambda_arch import cluster_store

        assign = _assign(tmp, r.seed)
        df = r.spark.read.parquet(os.path.join(tmp, "clips"))
        store = os.path.join(tmp, "store")
        _sink(store)(_batch(df, assign, 0), 0)
        cluster_store(r.spark, store, os.path.join(tmp, "seed_cluster")).write.parquet(
            os.path.join(tmp, "labels"))
        shutil.rmtree(os.path.join(tmp, "seed_cluster"))

    return corpus.cached_corpus(r, NAME, SIZES[r.size], extra_build=seed_store)


def _fresh_store(r, st, name: str):
    """A private copy of the seeded store and its labels, as the
    checkpointed `prev_components` the chain starts from."""
    store = r.fresh_copy(os.path.join(st["entry"], "store"), name)
    prev = r.spark.read.parquet(os.path.join(st["entry"], "labels")).localCheckpoint()
    return store, prev


def setup(r, entry):
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    st = corpus.load(r, entry)
    st["truth"] = corpus.truth(entry)
    st["assign"] = _assign(entry, r.seed)
    t = pq.read_table(st["clips_path"], columns=["clip_id", "bytes"])
    sizes = dict(zip(t.column("clip_id").to_pylist(),
                     pc.binary_length(t.column("bytes")).to_pylist()))
    st["batch_bytes"] = {b: sum(sizes[i] for i, k in st["assign"].items() if k == b)
                         for b in range(N_BATCHES)}
    chain = range(1, N_BATCHES)
    st["op_mb"] = sum(st["batch_bytes"][b] for b in chain) / 1e6 / FOLDS
    st["op_clips"] = sum(1 for k in st["assign"].values() if k in chain) / FOLDS
    st["store"], st["prev"] = _fresh_store(r, st, "store")
    return st


def micro_batch(r, store: str, prev, df, assign, b: int, rec: dict):
    """Land batch b and fold it into `prev`; returns the new labels."""
    from go_cdc_chunkers_spark.streaming.lambda_arch import cluster_store_incremental

    spark, tr = r.spark, r.tracer
    t = time.time()
    with tr.span("lambda_arch.sink", spark, batch=b):
        _sink(store)(_batch(df, assign, b), b)
    t1 = time.time()
    mo = {}
    with tr.span("lambda_arch.fold", spark, batch=b):
        labels = cluster_store_incremental(spark, store, prev, since_batch=b - 1,
                                           use_band_store=True, metrics_out=mo)
    t2 = time.time()
    rec.update(ingest_s=t1 - t, fold_s=t2 - t1, fold_start=t1,
               capped=mo["capped_touched_buckets"])
    return labels


def warmup(r, st):
    store, prev = _fresh_store(r, st, "warmup_store")
    micro_batch(r, store, prev, st["df"], st["assign"], 1, {})
    shutil.rmtree(store, ignore_errors=True)


def measure(r, st, seconds: float) -> dict:
    """The FOLDS-long chain; `seconds` does not lengthen it (see module)."""
    folds, errors = [], 0
    bytes_before = dir_stats(st["store"])[0]
    prev = st["prev"]
    t0 = time.time()
    for b in range(1, N_BATCHES):
        rec = {"batch": b}
        try:
            with r.tracer.span("micro_batch", r.spark, batch=b):
                prev = micro_batch(r, st["store"], prev, st["df"], st["assign"], b, rec)
        except Exception as e:
            errors += 1
            r.log_failure(f"micro-batch {b}", e)
            break
        folds.append(rec)
    t1 = time.time()
    st["final"] = prev
    return {"window": (t0, t1), "latency": [f["ingest_s"] + f["fold_s"] for f in folds],
            "outputs": folds, "attempted": len(folds) + errors, "errors": errors,
            "store_bytes_written": dir_stats(st["store"])[0] - bytes_before}


def check(r, st, m) -> tuple[list[str], dict]:
    """After the chain: labels equal a fresh full cluster_store whenever no
    touched bucket was capped; recall and precision against the truth."""
    from go_cdc_chunkers_spark.streaming.lambda_arch import cluster_store

    folds = m["outputs"]
    if len(folds) < FOLDS:
        return [f"chain ended after {len(folds)} of {FOLDS} folds"], {}
    incr = {row.clip_id: row.component_id for row in st["final"].collect()}
    full = {row.clip_id: row.component_id
            for row in cluster_store(r.spark, st["store"], r.path("full")).collect()}
    capped = sum(f["capped"] for f in folds)
    fails = checks.incremental_matches_full(incr, full, capped)
    fails += checks.covers_clips(incr, set(st["truth"]))
    recall, precision, _, _ = checks.recall_precision(incr, st["truth"])
    fails += checks.recall_floor(recall)
    fresh = [f["ingest_s"] + f["fold_s"] for f in folds]
    extra = {
        "ingest_s": (statistics.median(f["ingest_s"] for f in folds), "s", len(folds)),
        "fold_s": (statistics.median(f["fold_s"] for f in folds), "s", len(folds)),
        "fold_last_s": (folds[-1]["fold_s"], "s", 1),
        "fresh_s": (statistics.median(fresh), "s", len(folds)),
        "dup_recall": (recall, "ratio", 1),
        "dup_precision": (precision, "ratio", 1),
        "capped_touched_buckets": (capped, "count", 1),
    }
    for i, f in enumerate(folds, 1):
        extra[f"fold_{i}_s"] = (f["fold_s"], "s", 1)
        extra[f"ingest_{i}_s"] = (f["ingest_s"], "s", 1)
    return fails, extra


def layers(r, st, m) -> dict:
    folds = m["outputs"]
    store_bytes, store_files = dir_stats(st["store"])
    chain_in = sum(st["batch_bytes"][f["batch"]] for f in folds)
    out = {
        "lambda_arch.sink_s": statistics.median(f["ingest_s"] for f in folds),
        "lambda_arch.fold_s": statistics.median(f["fold_s"] for f in folds),
        "lambda_arch.capped_touched_buckets": sum(f["capped"] for f in folds),
        "incremental.store_mb": store_bytes / 1e6,
        "incremental.store_files": store_files,
        "incremental.write_amp": m["store_bytes_written"] / chain_in if chain_in else 0.0,
    }
    out.update(probes.pipeline_chunk_path(r, st))
    return out


def event_layers(m, events) -> dict:
    """From the event log: each fold's time from the call to its first Spark
    job (median and last), and the last fold's wall time with no task
    running, which is where the planning growth shows."""
    folds = m["outputs"]
    gaps = []
    for f in folds:
        first = events.first_job_after(f["fold_start"])
        if first is not None:
            gaps.append(first - f["fold_start"])
    last = folds[-1]
    idle = events.fold(last["fold_start"], last["fold_start"] + last["fold_s"])
    return {"lambda_arch.fold_plan_s": statistics.median(gaps) if gaps else 0.0,
            "lambda_arch.fold_plan_last_s": gaps[-1] if gaps else 0.0,
            "lambda_arch.fold_idle_last_s": idle["spark.driver_idle_s"]}
