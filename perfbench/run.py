#!/usr/bin/env python3
"""perfbench: the same-box benchmark of the dedup engine.

    python3 perfbench/run.py --workload cdc_analyze --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Workloads: cdc_analyze and neardup_batch
(the ones BENCHMARK.json lists) and incremental_fold (run by hand; one run
takes about two minutes, see README.md). `--trace 0` measures the
end-to-end metrics; `--trace 1` records spans and Spark's event log and
prints the per-layer metrics instead. `--size tiny` shrinks every input
for the self-test.

Every workload is a closed loop with one client in one process, on a
`local[nproc]` session whose driver heap is bounded from /proc/meminfo.
Stdout ends with a table, one JSON line with every figure of the run
(`report`), and the result line: {"correct", "attempted", "failed",
"metrics"}. Exit status 0 only when every output check passed.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("cdc_analyze", "neardup_batch", "incremental_fold")
SETUP_REPS = 3
DEADLINE_S = 170.0

# The metrics BENCHMARK.json declares, with their units.
END_TO_END = {
    "setup_s": "s", "job_s": "s", "mb_per_s": "MB/s", "clips_per_s": "clips/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "cdc.scan_mb_per_s": "MB/s", "cdc.sha256_mb_per_s": "MB/s",
    "sources.scan_s": "s",
    "chunking.s": "s", "chunking.mb_per_s": "MB/s", "chunking.chunks": "count",
    "chunking.boundary_s": "s", "chunking.stage_s": "s",
    "stats.measure_s": "s", "stats.distribution_s": "s",
    "signatures.minhash_pcm_s": "s", "signatures.minhash_text_s": "s",
    "signatures.simhash_s": "s", "signatures.lsh_bands_s": "s",
    "signatures.band_rows": "count",
    "candidates.pairs_s": "s", "candidates.pairs": "count",
    "candidates.capped_buckets": "count", "candidates.verify_s": "s",
    "candidates.verify_pass_ratio": "ratio", "candidates.containment_s": "s",
    "candidates.containment_hit_ratio": "ratio",
    "components.cc_s": "s", "components.rounds": "count",
    "pipeline.self_s": "s", "pipeline.stage_overlap": "ratio",
    "pipeline.part_skew_max": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.cpu_s": "s", "spark.gc_s": "s", "spark.python_s": "s",
    "spark.python_mb_in": "MB", "spark.python_mb_out": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.driver_idle_s": "s",
    "trace.job_s": "s",
}
# per-layer metrics only incremental_fold produces
INCREMENTAL_LAYER = {
    "lambda_arch.sink_s": "s", "lambda_arch.fold_s": "s",
    "lambda_arch.fold_plan_s": "s", "lambda_arch.fold_plan_last_s": "s",
    "lambda_arch.fold_idle_last_s": "s",
    "lambda_arch.capped_touched_buckets": "count",
    "incremental.store_mb": "MB", "incremental.store_files": "count",
    "incremental.write_amp": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def execute(r, wl, seconds: float, mem) -> dict:
    """Set up SETUP_REPS times, warm up, measure, check; traced, also the
    layer probes and the event-log fold. Returns the run's figures."""
    out = {"metrics": {}, "layers": {}, "failures": []}
    r.start_session()
    entry, gen_s = wl.prepare(r)
    st = wl.setup(r, entry)
    # the first set-up runs from process start (interpreter, JVM, session);
    # building a missing cache entry is load generation and is left out
    setups = [time.time() - T_START - gen_s]
    for _ in range(SETUP_REPS - 1):
        t = time.time()
        r.start_session()
        st = wl.setup(r, entry)
        setups.append(time.time() - t)
    t = time.time()
    wl.warmup(r, st)
    out["warmup_s"] = time.time() - t
    out["gen_s"] = gen_s
    out["input"] = {"clips": st["n_clips"], "mb": st["mb"]}

    # memory peaks inside the measured window only: load generation, which
    # runs only when the cache lacks the corpus, must not set it
    mem.reset()
    m = wl.measure(r, st, seconds)
    peak_mb = mem.peak_mb()
    out["attempted"], out["errors"] = m["attempted"], m["errors"]
    out["latencies"] = m["latency"]
    fails, extra = wl.check(r, st, m) if m["latency"] else ([], {})
    out["failures"] = fails
    lat = m["latency"]
    med = statistics.median(lat) if lat else None
    # one operation carries the whole corpus, or one micro-batch of it
    op_mb, op_clips = st.get("op_mb", st["mb"]), st.get("op_clips", st["n_clips"])
    metrics = {
        "setup_s": (statistics.median(setups), "s", len(setups)),
        "job_s": (med, "s", len(lat)),
        "mb_per_s": (op_mb / med if med else None, "MB/s", len(lat)),
        "clips_per_s": (op_clips / med if med else None, "clips/s", len(lat)),
        "peak_rss_mb": (peak_mb, "MB", 1),
    }
    metrics.update(extra)
    out["metrics"] = metrics

    if r.trace and lat:
        layers = wl.layers(r, st, m)
        layers["trace.job_s"] = med
        r.stop_session()  # flushes the event log
        from eventlog import EventLog

        events = EventLog(r.eventlog_dir)
        layers.update(events.fold(*m["window"]))
        if hasattr(wl, "event_layers"):
            layers.update(wl.event_layers(m, events))
        out["layers"] = layers
        # task metrics per span name, from the jobs each span tagged
        by_span = {name: events.fold(0.0, float("inf"), span=name)
                   for name in sorted({s["name"] for s in r.tracer.spans})}
        spans = os.path.join(r.work, "traces", f"{r.id}.json")
        r.tracer.dump(spans, spark_by_span=by_span)
        out["trace_file"] = os.path.relpath(spans, r.checkout)
    return out


def table(name: str, value, unit: str, n=None) -> str:
    v = "n/a" if value is None else (f"{value:.6g}" if isinstance(value, float) else str(value))
    tail = f"  (median of {n})" if n and n > 1 else ""
    return f"  {name:<36} {v:>14} {unit}{tail}"


def finish(args, r, out: dict) -> int:
    metrics = out.get("metrics", {})
    attempted = max(1, out.get("attempted", 0))
    failed = out.get("errors", 0) + (1 if out.get("failures") else 0)
    failed = min(failed, attempted)
    metrics["error_rate"] = (failed / attempted, "ratio", 1)
    correct = failed == 0 and not out.get("fatal")

    print(f"perfbench {args.workload} seed={args.seed} size={args.size} "
          f"trace={args.trace} nproc={r.box['nproc']} "
          f"mem_total_mb={r.box['mem_total_mb']} input={out.get('input')}")
    for k, (v, unit, n) in metrics.items():
        print(table(k, v, unit, n))
    for k, v in sorted(out.get("layers", {}).items()):
        unit = PER_LAYER.get(k) or INCREMENTAL_LAYER.get(k, "")
        print(table(k, v, unit))
    for f in out.get("failures", []):
        print(f"  CHECK FAILED: {f}")
    print(f"  checks: {'ok' if correct else 'FAILED'}")
    report = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "trace": args.trace, **r.box, **{k: v for k, v in out.items() if k != "metrics"},
        "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in metrics.items()},
    }
    print(json.dumps({"report": report}, default=str))

    if args.trace:
        names = PER_LAYER
        values = out.get("layers", {})
    else:
        names = END_TO_END
        values = {k: v for k, (v, _, _) in metrics.items()}
    result = {
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values.get(k) or 0, "unit": u}
                    for k, u in names.items()},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(CHECKOUT, "go_cdc_chunkers_spark", "__init__.py")):
        print("perfbench: the engine package go_cdc_chunkers_spark is not in "
              f"{CHECKOUT}; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, CHECKOUT)
    import importlib

    import harness

    wl = importlib.import_module(args.workload)
    r = harness.Run(CHECKOUT, args.workload, args.seed, args.size, bool(args.trace))
    mem = harness.PeakMemory().start()

    def overrun():
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s; stopping it",
              file=sys.stderr, flush=True)
        mem.stop()
        finish(args, r, {"fatal": True, "attempted": 1, "errors": 1})
        harness.kill_tree(os.getpid())
        shutil.rmtree(r.dir, ignore_errors=True)
        os._exit(1)

    watchdog = threading.Timer(DEADLINE_S - (time.time() - T_START), overrun)
    watchdog.daemon = True
    watchdog.start()
    # SIGTERM unwinds through the finally below, which stops the JVM and
    # the workers and removes the run's scratch tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = {}
    try:
        out = execute(r, wl, args.seconds, mem)
    except Exception as e:  # the run's boundary: report, never hang
        r.log_failure("run", e)
        out.update(fatal=True, attempted=max(1, out.get("attempted", 0)),
                   errors=max(1, out.get("errors", 0)))
    finally:
        mem.stop()
        r.close()
        watchdog.cancel()
    return finish(args, r, out)


if __name__ == "__main__":
    sys.exit(main())
