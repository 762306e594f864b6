"""cdc_analyze: the reference's `cdc analyze` chunk statistics.

One operation is the `jobs/cdc.py analyze` job: `stats.measure` and
`stats.distribution` over `chunking.chunk_clips` (FastCDC, sha256), each
collected, over a parquet corpus of 10-30 s PCM clips with 10% exact and
10% near duplicates. The chunking path does nearly all the work (parquet
scan, Arrow hand-off, C cutpoint kernel, sha256, stats aggregates); no
candidate or cluster layer runs. Like `jobs/cdc.py`, the job chunks the
corpus once per aggregate action.
"""

from __future__ import annotations

import statistics

import checks
import corpus
import probes
from harness import closed_loop, expected_outputs

NAME = "cdc_analyze"
ALGO = "fastcdc-v1.0.0"
SIZES = {
    "full": dict(n_base=100, dup_frac=0.1, near_frac=0.1, n_const=0,
                 min_ms=10_000, max_ms=30_000),
    "tiny": dict(n_base=4, dup_frac=0.25, near_frac=0.25, n_const=0,
                 min_ms=1_000, max_ms=2_000),
}
WARMUP_OPS = 3
CUTPOINT_SAMPLE = 2  # clips checked against the per-byte reference


def prepare(r):
    return corpus.cached_corpus(r, NAME, SIZES[r.size])


def setup(r, entry):
    return corpus.load(r, entry)


def analyze(spark, clips):
    """The jobs/cdc.py analyze job, collected."""
    from go_cdc_chunkers_spark.operators import stats
    from go_cdc_chunkers_spark.operators.chunking import chunk_clips

    chunks = chunk_clips(clips, ALGO)
    return {
        "measure": [row.asDict() for row in stats.measure(chunks).collect()],
        "distribution": [row.asDict() for row in stats.distribution(chunks).collect()],
    }


def warmup(r, st):
    for _ in range(WARMUP_OPS):
        analyze(r.spark, st["df"])


def measure(r, st, seconds: float) -> dict:
    return closed_loop(r, seconds, "analyze", lambda: analyze(r.spark, st["df"]))


def engine_lengths(df, ids: list[str]) -> dict[str, list[int]]:
    """Chunk lengths chunk_clips emits for the given clips, in chunk order."""
    from pyspark.sql import functions as F

    from go_cdc_chunkers_spark.operators.chunking import chunk_clips

    rows = (chunk_clips(df.filter(F.col("clip_id").isin(ids)), ALGO)
            .select("clip_id", "chunk_idx", "length").collect())
    out = {i: [] for i in ids}
    for c in sorted(rows, key=lambda c: (c.clip_id, c.chunk_idx)):
        out[c.clip_id].append(c.length)
    return out


def check(r, st, m) -> tuple[list[str], dict]:
    """Every job's statistics are identical and equal the first run of this
    seed; the cutpoints of a fixed clip sample equal split_naive's."""
    from go_cdc_chunkers_spark.cdc.opts import resolve

    fails = checks.same_across(m["outputs"], "analyze result")
    if m["outputs"]:
        ok, _ = expected_outputs(st["entry"], "analyze", m["outputs"][0])
        fails += checks.matches_recorded(ok, "analyze result")
    data = corpus.first_clips(st["clips_path"], CUTPOINT_SAMPLE)
    got = engine_lengths(st["df"], list(data))
    fails += checks.cutpoints({i: (data[i], got[i]) for i in data}, resolve(ALGO))
    return fails, {}


def layers(r, st, m) -> dict:
    """cdc ceiling, scan, chunking, and the two stats actions over a chunk
    table materialized once (so their spans hold the stats layer alone)."""
    from go_cdc_chunkers_spark.cdc.opts import resolve
    from go_cdc_chunkers_spark.operators import stats
    from go_cdc_chunkers_spark.operators.chunking import chunk_clips

    spark, tr = r.spark, r.tracer
    out = probes.cdc_ceiling(probes.byte_sample(st["clips_path"]), resolve(ALGO))
    out.update(probes.chunk_path(r, st["df"], ALGO, None, st["mb"], out))
    path = r.path("chunks")
    chunk_clips(st["df"], ALGO).write.mode("overwrite").parquet(path)
    chunks = spark.read.parquet(path)
    ms, ds = [], []
    for _ in range(probes.REPS):
        with tr.span("stats.measure", spark) as s:
            stats.measure(chunks).collect()
        ms.append(s["end"] - s["start"])
        with tr.span("stats.distribution", spark) as s:
            stats.distribution(chunks).collect()
        ds.append(s["end"] - s["start"])
    out["stats.measure_s"] = statistics.median(ms)
    out["stats.distribution_s"] = statistics.median(ds)
    return out
