"""Per-layer probes of the chunking path, timed from outside around calls
into each layer's public functions. Run only in the traced run, after the
measured window.

  cdc       kernels.split_lengths / hashlib.sha256 on a fixed byte sample,
            in this process (one core): the ceiling for the chunking path.
  sources   parquet scan of the clip bytes into a noop sink.
  chunking  operators.chunking.chunk_clips into a noop sink.
"""

from __future__ import annotations

import hashlib
import statistics
import time

SAMPLE_MB = 16
REPS = 3


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def byte_sample(clips_path: str, limit_mb: int = SAMPLE_MB) -> bytes:
    """The corpus's first clips (by clip_id) concatenated, up to `limit_mb`
    MB: a fixed, seed-derived byte sample for the kernel probes."""
    import pyarrow.parquet as pq

    t = pq.read_table(clips_path, columns=["clip_id", "bytes"]).sort_by("clip_id")
    out, n = [], 0
    for b in t.column("bytes").to_pylist():
        out.append(b)
        n += len(b)
        if n >= limit_mb * 1_000_000:
            break
    return b"".join(out)


def cdc_ceiling(sample: bytes, resolved) -> dict:
    """Single-core MB/s of the cutpoint scan and of the per-chunk sha256,
    best of REPS after one warm-up (first-touch page faults are slow on a
    VM)."""
    from go_cdc_chunkers_spark.cdc import kernels

    mb = len(sample) / 1e6
    mv = memoryview(sample)
    lengths = kernels.split_lengths(resolved, sample)

    def scan():
        kernels.split_lengths(resolved, sample)

    def sha():
        pos = 0
        for ln in lengths:
            hashlib.sha256(mv[pos:pos + ln]).digest()
            pos += ln

    def best(fn):
        fn()
        ts = []
        for _ in range(REPS):
            t = time.perf_counter()
            fn()
            ts.append(time.perf_counter() - t)
        return min(ts)

    return {"cdc.scan_mb_per_s": mb / best(scan),
            "cdc.sha256_mb_per_s": mb / best(sha)}


def chunk_path(r, clips_df, algorithm: str, opts, corpus_mb: float,
               ceiling: dict, digest="sha256") -> dict:
    """sources.scan_s, chunking.s / mb_per_s / chunks / boundary_s.

    boundary_s is what the chunking stage costs beyond the scan and the
    kernel running at its single-core ceiling on every core: the Arrow
    hand-off, per-chunk Python objects and posexplode."""
    from pyspark.sql import functions as F

    from go_cdc_chunkers_spark.operators.chunking import chunk_clips

    spark, tr = r.spark, r.tracer
    scans, chunks_s = [], []
    for _ in range(REPS):
        with tr.span("sources.scan", spark) as s:
            _noop(clips_df.select("clip_id", "bytes"))
        scans.append(s["end"] - s["start"])
        with tr.span("chunking.chunk_clips", spark) as s:
            _noop(chunk_clips(clips_df, algorithm, opts, digest=digest))
        chunks_s.append(s["end"] - s["start"])
    n_chunks = chunk_clips(clips_df, algorithm, opts, digest=digest).agg(
        F.count("*")).first()[0]
    scan_s = statistics.median(scans)
    chunk_s = statistics.median(chunks_s)
    per_core = corpus_mb * (1 / ceiling["cdc.scan_mb_per_s"]
                            + 1 / ceiling["cdc.sha256_mb_per_s"])
    kernel_s = per_core / r.box["nproc"]
    return {
        "sources.scan_s": scan_s,
        "chunking.s": chunk_s,
        "chunking.mb_per_s": corpus_mb / chunk_s,
        "chunking.chunks": int(n_chunks),
        "chunking.boundary_s": chunk_s - scan_s - kernel_s,
    }


def pipeline_chunk_path(r, st) -> dict:
    """The cdc ceiling and chunk-path probes with the default
    `PipelineConfig` chunking (the one the pipeline and the sink use)."""
    from go_cdc_chunkers_spark.cdc.opts import resolve
    from go_cdc_chunkers_spark.plans.pipeline import PipelineConfig

    cfg = PipelineConfig()
    out = cdc_ceiling(byte_sample(st["clips_path"]),
                      resolve(cfg.algorithm, cfg.chunk_opts))
    out.update(chunk_path(r, st["df"], cfg.algorithm, cfg.chunk_opts, st["mb"],
                          out, digest=cfg.digest_kind))
    return out
