"""Seeded load generation: every corpus is built with
`sources.clips.generate_clips_df` and cached with its truth table under
`.perfbench_work/cache/<workload>-s<seed>-<size>/`. Each run reads a fresh
copy of the clips."""

from __future__ import annotations

import json
import os


def cached_corpus(r, workload: str, params: dict, extra_build=None):
    """(cache entry path, seconds spent generating). `extra_build(tmp)` adds
    workload-specific state (a seeded store) to a new entry."""
    from go_cdc_chunkers_spark.sources.clips import generate_clips_df

    def build(tmp):
        clips, truth = generate_clips_df(r.spark, seed=r.seed, **params)
        clips.write.parquet(os.path.join(tmp, "clips"))
        truth.write.parquet(os.path.join(tmp, "truth"))
        _write_meta(tmp)
        if extra_build is not None:
            extra_build(tmp)

    return r.cached(f"{workload}-s{r.seed}-{r.size}", build)


def _write_meta(entry: str) -> None:
    """Clip count and payload MB of the corpus, from its parquet files."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(entry, "clips"), columns=["bytes"])
    mb = pc.sum(pc.binary_length(t.column("bytes"))).as_py() / 1e6
    with open(os.path.join(entry, "meta.json"), "w") as f:
        json.dump({"n_clips": t.num_rows, "mb": mb}, f)


def load(r, entry: str) -> dict:
    """A fresh copy of the entry's clips, read by this run's session."""
    with open(os.path.join(entry, "meta.json")) as f:
        meta = json.load(f)
    path = r.fresh_copy(os.path.join(entry, "clips"), "clips")
    return {"entry": entry, "clips_path": path,
            "df": r.spark.read.parquet(path), **meta}


def truth(entry: str) -> dict[str, int]:
    """clip_id -> duplicate group of the generator."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(entry, "truth")).to_pydict()
    return dict(zip(t["clip_id"], t["group_id"]))


def first_clips(clips_path: str, n: int) -> dict[str, bytes]:
    """Bytes of the first `n` clips by clip_id."""
    import pyarrow.parquet as pq

    t = pq.read_table(clips_path, columns=["clip_id", "bytes"]).sort_by("clip_id")
    ids = t.column("clip_id").to_pylist()[:n]
    data = t.column("bytes").to_pylist()[:n]
    return dict(zip(ids, data))
