"""Self-test of the benchmark at tiny sizes.

    python -m pytest perfbench -q

The output checks must fail when handed a corrupted result; every workload
must complete; the printed metric names must be the ones BENCHMARK.json
declares; and without the engine the benchmark must fail fast.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, CHECKOUT)

import checks  # noqa: E402
import harness  # noqa: E402
import run  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- checks fail on corrupted results ---------------------------------------

def test_cutpoints_check_catches_a_shifted_cutpoint():
    import numpy as np

    from go_cdc_chunkers_spark.cdc import kernels
    from go_cdc_chunkers_spark.cdc.opts import resolve

    r = resolve("fastcdc-v1.0.0")
    data = np.random.default_rng(7).integers(0, 256, 300_000, dtype=np.uint8).tobytes()
    good = kernels.split_lengths(r, data)
    assert len(good) > 2
    assert checks.cutpoints({"c": (data, good)}, r) == []
    shifted = [good[0] + 1, good[1] - 1] + good[2:]
    assert checks.cutpoints({"c": (data, shifted)}, r)


def test_recall_check_catches_a_dropped_edge():
    truth = {f"c{i}": i // 2 for i in range(20)}  # ten duplicate pairs
    labels = {c: f"c{2 * (i // 2)}" for i, c in enumerate(truth)}
    recall, precision, _, n_true = checks.recall_precision(labels, truth)
    assert (recall, precision, n_true) == (1.0, 1.0, 10)
    assert checks.recall_floor(recall) == []
    labels["c1"] = "c1"  # the edge c0-c1 dropped
    recall, _, _, _ = checks.recall_precision(labels, truth)
    assert recall == 0.9
    assert checks.recall_floor(recall)


def test_label_digest_check_catches_a_changed_label():
    a = {"c0": "c0", "c1": "c0", "c2": "c2"}
    b = dict(a, c2="c0")
    da, db = (harness.digest(f"{k},{v}" for k, v in sorted(x.items())) for x in (a, b))
    assert checks.same_across([da, da], "digest") == []
    assert checks.same_across([da, db], "digest")


def test_recorded_outputs_catch_a_changed_statistic(tmp_path):
    row = {"measure": [{"n_chunks": 10, "unique_bytes": 900, "dedup_ratio": 0.9}]}
    assert harness.expected_outputs(str(tmp_path), "analyze", row)[0]
    assert harness.expected_outputs(str(tmp_path), "analyze", row)[0]
    bad = {"measure": [{"n_chunks": 11, "unique_bytes": 900, "dedup_ratio": 0.9}]}
    assert not harness.expected_outputs(str(tmp_path), "analyze", bad)[0]


def test_incremental_check_catches_a_label_that_differs_from_full():
    full = {"c0": "c0", "c1": "c0", "c2": "c2"}
    assert checks.incremental_matches_full(dict(full), full, 0) == []
    incr = dict(full, c1="c1")
    assert checks.incremental_matches_full(incr, full, 0)
    # capped touched buckets: the contract only promises monotone labels
    assert checks.incremental_matches_full(incr, full, 3) == []
    assert checks.covers_clips({"c0": "c0"}, {"c0", "c1"})


# -- span arithmetic ----------------------------------------------------------

def test_stage_shares_plus_self_time_account_for_the_run():
    tr = harness.Tracer("t", True)
    run_span = {"id": 1, "name": "run", "parent": None, "start": 0.0, "end": 10.0}
    stages = [
        {"id": 2, "name": "a", "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "name": "b", "parent": 1, "start": 3.0, "end": 6.0},
        {"id": 4, "name": "c", "parent": 1, "start": 8.0, "end": 9.0},
    ]
    tr.spans = [run_span, *stages]
    shares = harness.shared_time(stages)
    assert shares == {"a": 3.0, "b": 2.0, "c": 1.0}
    assert tr.self_time(run_span) == 4.0
    assert sum(shares.values()) + tr.self_time(run_span) == 10.0


# -- the contract --------------------------------------------------------------

def test_declared_metrics_are_the_printed_ones():
    bench = _benchmark_json()
    assert [w["name"] for w in bench["workloads"]] == ["cdc_analyze", "neardup_batch"]
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def _run(workload: str, trace: int, cwd: str = CHECKOUT):
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "3", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return proc


@pytest.mark.parametrize("workload,trace", [
    ("cdc_analyze", 1), ("neardup_batch", 1), ("incremental_fold", 0)])
def test_workload_completes_at_tiny_size(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = run.PER_LAYER if trace else run.END_TO_END
    assert set(result["metrics"]) == set(want)
    for name, m in result["metrics"].items():
        assert m["unit"] == want[name]
        assert isinstance(m["value"], (int, float))
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_fast_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), tmp_path)
    proc = _run("cdc_analyze", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
