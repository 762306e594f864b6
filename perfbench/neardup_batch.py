"""neardup_batch: batch near-duplicate clustering.

One operation is one `Pipeline.run` with the default `PipelineConfig` in a
fresh workdir, collected to labels. Input is short clips (0.15-1.2 s) with
30% exact and 30% near duplicates plus 200 constant clips, whose LSH
buckets exceed `pair_cap` and take the star fallback. The cross-clip layers
and the per-stage driver overhead do most of the work: signatures, the
band join, verification, containment and connected components. Chunking
is a small share.

Traced, every `Pipeline.stage` call is a span (through a `Pipeline`
subclass that only wraps `stage`). `run()` overlaps stage chains from a
thread pool, so each stage's share is its span with overlapping time split
evenly among the spans active at that instant; the shares plus
`pipeline.self_s` (run-span time no stage covers) add up to the run.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics

import checks
import corpus
import probes
from harness import closed_loop, digest, expected_outputs, shared_time

NAME = "neardup_batch"
SIZES = {
    "full": dict(n_base=500, dup_frac=0.3, near_frac=0.3, n_const=200),
    "tiny": dict(n_base=20, dup_frac=0.3, near_frac=0.3, n_const=4),
}
WARMUP_OPS = 2

# stage name -> per-layer metric of its time share
STAGE_METRICS = {
    "chunks_pcm": "chunking.stage_s",
    "sig_pcm": "signatures.minhash_pcm_s",
    "sig_text": "signatures.minhash_text_s",
    "simhash_text": "signatures.simhash_s",
    "bands": "signatures.lsh_bands_s",
    "candidates": "candidates.pairs_s",
    "verified": "candidates.verify_s",
    "containment": "candidates.containment_s",
    "components": "components.cc_s",
}


def _traced_pipeline(spark, workdir, tracer):
    from go_cdc_chunkers_spark.plans.pipeline import Pipeline

    class TracedPipeline(Pipeline):
        def stage(self, name, build):
            with tracer.span(name, spark, kind="stage"):
                return super().stage(name, build)

    return TracedPipeline(spark, workdir)


def prepare(r):
    return corpus.cached_corpus(r, NAME, SIZES[r.size])


def setup(r, entry):
    st = corpus.load(r, entry)
    st["truth"] = corpus.truth(entry)
    st["runs"] = 0
    return st


def run_pipeline(r, st) -> dict[str, str]:
    """One Pipeline.run in a fresh workdir, collected to clip -> label.
    The previous operation's workdir is removed first (it is not needed
    after its lineage was read)."""
    st["runs"] += 1
    workdir = r.path(f"pipeline-{st['runs']}")
    old = r.path(f"pipeline-{st['runs'] - 1}")
    shutil.rmtree(old, ignore_errors=True)
    comps = _traced_pipeline(r.spark, workdir, r.tracer).run(st["df"])
    return {row.clip_id: row.component_id for row in comps.collect()}


def warmup(r, st):
    for _ in range(WARMUP_OPS):
        run_pipeline(r, st)


def measure(r, st, seconds: float) -> dict:
    m = closed_loop(r, seconds, "pipeline.run", lambda: run_pipeline(r, st))
    m["workdir"] = r.path(f"pipeline-{st['runs']}")
    return m


def check(r, st, m) -> tuple[list[str], dict]:
    """dup_recall >= 0.99 against the generator truth; every run's label
    digest is identical and equals the first run of this seed."""
    if not m["outputs"]:
        return [], {}
    labels = m["outputs"][0]
    digests = [digest(f"{k},{v}" for k, v in sorted(o.items())) for o in m["outputs"]]
    fails = checks.same_across(digests, "component-label digest")
    ok, _ = expected_outputs(st["entry"], "labels", digests[0])
    fails += checks.matches_recorded(ok, "component-label digest")
    fails += checks.covers_clips(labels, set(st["truth"]))
    recall, precision, n_pred, n_true = checks.recall_precision(labels, st["truth"])
    fails += checks.recall_floor(recall)
    return fails, {
        "dup_recall": (recall, "ratio", 1),
        "dup_precision": (precision, "ratio", 1),
        "predicted_pairs": (n_pred, "count", 1),
        "truth_pairs": (n_true, "count", 1),
    }


def _lineage(workdir: str) -> list[dict]:
    with open(os.path.join(workdir, "lineage.jsonl")) as f:
        return [json.loads(line) for line in f]


def _flag_ratio(path: str, col: str) -> float:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=[col])
    return (pc.sum(t.column(col).cast("int64")).as_py() or 0) / t.num_rows \
        if t.num_rows else 0.0


def _cc_cuts(workdir: str) -> int:
    """Materialized connected-components cuts (each up to two propagation
    steps): the last cut's sequence number minus the two init cuts."""
    names = os.listdir(os.path.join(workdir, "_cc_rounds"))
    seqs = [int(n[3:6]) for n in names if n.startswith("cc_")]
    return max(seqs) - 2 if seqs else 0


def layers(r, st, m) -> dict:
    """Stage shares (median over the window's runs), the last run's
    lineage counts, and the chunking-path probes."""
    tr = r.tracer
    t0, t1 = m["window"]
    runs = [s for s in tr.spans if s["name"] == "pipeline.run"
            and t0 <= s["start"] <= t1]
    per_run = []
    for run in runs:
        stages = [s for s in tr.children(run["id"]) if s.get("kind") == "stage"]
        shares = shared_time(stages)
        shares["pipeline.self_s"] = tr.self_time(run)
        shares["pipeline.stage_overlap"] = (
            sum(s["end"] - s["start"] for s in stages) / (run["end"] - run["start"]))
        per_run.append(shares)
    out = {}
    for stage, metric in STAGE_METRICS.items():
        out[metric] = statistics.median(p.get(stage, 0.0) for p in per_run)
    for k in ("pipeline.self_s", "pipeline.stage_overlap"):
        out[k] = statistics.median(p[k] for p in per_run)
    wd = m["workdir"]
    rows = {}
    skew = 1.0
    for row in _lineage(wd):
        rows[row["stage"]] = row["rows_out"]
        skew = max(skew, float(row.get("part_skew", 1.0)))
    out.update({
        "pipeline.part_skew_max": skew,
        "signatures.band_rows": rows.get("bands", 0),
        "candidates.pairs": rows.get("candidates", 0),
        "candidates.capped_buckets": rows.get("candidates_cap_audit", 0),
        "candidates.verify_pass_ratio": _flag_ratio(os.path.join(wd, "verified"), "is_dup"),
        "candidates.containment_hit_ratio":
            _flag_ratio(os.path.join(wd, "containment"), "containment"),
        "components.rounds": _cc_cuts(wd),
    })
    out.update(probes.pipeline_chunk_path(r, st))
    return out
