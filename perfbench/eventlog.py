"""Fold Spark's event log into the benchmark's `spark.*` metrics.

The traced run enables the event log (uncompressed) in the run's own
directory. Spark 4 writes it as a rolling directory of `events_<n>_<app>`
files, one directory per application; every session the run started has
its own. Task metrics are summed over a time window, or over the jobs
whose `perfbench.span` local property names a span (see harness.Tracer).
"""

from __future__ import annotations

import glob
import json
import os

from harness import intervals_union

PY_RUN = "time to run Python workers"  # SQL timing metric, ms
PY_IN = "data sent to Python workers"  # bytes
PY_OUT = "data returned from Python workers"  # bytes


def _event_files(eventlog_dir: str) -> list[str]:
    """Every application's event files, in order within each application."""
    files = glob.glob(os.path.join(eventlog_dir, "*", "events_*"))
    return sorted(files, key=lambda p: (os.path.dirname(p),
                                        int(os.path.basename(p).split("_")[1])))


class EventLog:
    """Jobs and tasks of every application logged under one directory."""

    def __init__(self, eventlog_dir: str):
        self.jobs: list[dict] = []   # {id, submit, span}
        self.tasks: list[dict] = []  # {launch, finish, span, metrics...}
        stage_span: dict[tuple[str, int], str | None] = {}
        for path in _event_files(eventlog_dir):
            app = os.path.dirname(path)  # one directory per application
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e.get("Event")
                    if kind == "SparkListenerJobStart":
                        span = (e.get("Properties") or {}).get("perfbench.span")
                        self.jobs.append({"submit": e["Submission Time"] / 1000.0,
                                          "span": span})
                        for sid in e.get("Stage IDs", []):
                            stage_span.setdefault((app, sid), span)
                    elif kind == "SparkListenerTaskEnd":
                        self.tasks.append(self._task(
                            e, stage_span.get((app, e.get("Stage ID")))))

    @staticmethod
    def _task(e: dict, span) -> dict:
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        acc = {}
        for a in info.get("Accumulables", []):
            if a.get("Name") in (PY_RUN, PY_IN, PY_OUT):
                acc[a["Name"]] = acc.get(a["Name"], 0) + int(a.get("Update") or 0)
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        return {
            "launch": info["Launch Time"] / 1000.0,
            "finish": info["Finish Time"] / 1000.0,
            "span": span,
            "run_s": m.get("Executor Run Time", 0) / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "python_s": acc.get(PY_RUN, 0) / 1e3,
            "python_in": acc.get(PY_IN, 0),
            "python_out": acc.get(PY_OUT, 0),
            "shuffle_write": sw.get("Shuffle Bytes Written", 0),
            "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        }

    def first_job_after(self, t: float) -> float | None:
        later = [j["submit"] for j in self.jobs if j["submit"] >= t]
        return min(later) if later else None

    def fold(self, start: float, end: float, span: str | None = None) -> dict:
        """spark.* metrics of the tasks that finished in [start, end] (and,
        if `span` is given, belong to jobs tagged with that span)."""
        ts = [t for t in self.tasks if start <= t["finish"] <= end
              and (span is None or t["span"] == span)]
        js = [j for j in self.jobs if start <= j["submit"] <= end
              and (span is None or j["span"] == span)]
        mb = 1e6
        busy = intervals_union([(max(t["launch"], start), min(t["finish"], end))
                                for t in ts if t["finish"] > t["launch"]])
        return {
            "spark.jobs": len(js),
            "spark.tasks": len(ts),
            "spark.task_s": sum(t["run_s"] for t in ts),
            "spark.cpu_s": sum(t["cpu_s"] for t in ts),
            "spark.gc_s": sum(t["gc_s"] for t in ts),
            "spark.python_s": sum(t["python_s"] for t in ts),
            "spark.python_mb_in": sum(t["python_in"] for t in ts) / mb,
            "spark.python_mb_out": sum(t["python_out"] for t in ts) / mb,
            "spark.shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / mb,
            "spark.shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / mb,
            "spark.spill_mb": sum(t["spill"] for t in ts) / mb,
            # wall time in the window with no task running; only meaningful
            # for a window (a span-filtered fold leaves it out)
            "spark.driver_idle_s": (end - start) - busy if span is None else None,
        }
