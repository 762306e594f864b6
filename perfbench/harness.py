"""Plumbing shared by the perfbench workloads.

`Run` owns one run's scratch tree under `<checkout>/.perfbench_work/runs/`,
the Spark session sized to the box, the span tracer and the RSS sampler.
Nothing here imports the engine at module load, so `run.py` can report a
missing program before any Spark start.
"""

from __future__ import annotations

import contextlib
import hashlib
import itertools
import json
import os
import shutil
import signal
import sys
import threading
import time
import traceback

WORK_DIRNAME = ".perfbench_work"
# Cache entries are corpora (tens of MB each); keep the newest few so a
# long series of seeds cannot fill the disk.
CACHE_KEEP = 8


# -- the box -------------------------------------------------------------

def box() -> dict:
    """nproc and MemTotal: recorded with every result, because figures from
    different boxes are never compared."""
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def driver_heap_mb(mem_total_mb: int) -> int:
    """Driver heap bounded well below physical RAM: a quarter of MemTotal,
    at most 2 GiB (the corpora here are under 100 MB), at least 1 GiB. The
    engine's own default (48g) is OOM-killed on a 15 GB box; a small heap
    is also touched whole during warm-up, where first-touch page faults
    are slow on a VM."""
    return max(1024, min(2048, mem_total_mb // 4))


# -- spans ---------------------------------------------------------------

def intervals_union(iv: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory tree."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            n_bytes += os.path.getsize(os.path.join(dirpath, fn))
            n_files += 1
    return n_bytes, n_files


class Tracer:
    """In-memory spans: name, start, end, parent span id and run id. Spans
    opened in a thread with no open span of its own (the pipeline's stage
    pool) take the tracer's `root` span as parent. When a Spark session is
    given, jobs submitted inside the span carry the span name in the
    `perfbench.span` local property, so the event-log fold can attribute
    tasks to spans that overlap in time."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, spark=None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": stack[-1] if stack else self.root,
               "start": time.time(), "end": None, **attrs}
        sc = spark.sparkContext if spark is not None else None
        prev = sc.getLocalProperty("perfbench.span") if sc else None
        if sc:
            sc.setLocalProperty("perfbench.span", name)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            if sc:
                sc.setLocalProperty("perfbench.span", prev)
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it that child spans cover."""
        iv = [(max(c["start"], rec["start"]), min(c["end"], rec["end"]))
              for c in self.children(rec["id"])]
        return (rec["end"] - rec["start"]) - intervals_union(
            [(s, e) for s, e in iv if e > s])

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": sorted(self.spans, key=lambda s: s["start"]),
                       **extra}, f, indent=1)


def shared_time(spans: list[dict]) -> dict[str, float]:
    """Split the wall time covered by (possibly overlapping) sibling spans
    among them: each instant is shared evenly by the spans active at that
    instant. The shares sum to the union of the spans, so sibling shares
    plus the parent's self time account for the parent's duration."""
    edges = sorted({t for s in spans for t in (s["start"], s["end"])})
    out = {s["name"]: 0.0 for s in spans}
    for lo, hi in zip(edges, edges[1:]):
        active = [s for s in spans if s["start"] <= lo and s["end"] >= hi]
        for s in active:
            out[s["name"]] += (hi - lo) / len(active)
    return out


# -- process tree --------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: each shared page split among the processes
    mapping it, so the pages forked Python workers share count once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def kill_tree(pid: int, grace_s: float = 10.0) -> None:
    """SIGTERM every descendant of `pid`, SIGKILL what is left after the
    grace period, and wait until none remains."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in descendants(pid):
            with contextlib.suppress(ProcessLookupError, PermissionError):
                os.kill(p, sig)
        deadline = time.time() + grace_s
        while time.time() < deadline:
            left = descendants(pid)
            for p in left:  # reap our own direct children
                with contextlib.suppress(ChildProcessError, OSError):
                    os.waitpid(p, os.WNOHANG)
            if not descendants(pid):
                return
            time.sleep(0.1)


class PeakMemory:
    """Peak memory of this process plus all its descendants (driver JVM and
    Python workers) as the sum of their PSS, sampled every 0.25 s on a
    daemon thread since the last `reset()`. Summed RSS would count the
    pages a forked worker shares with its siblings once per worker."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = _pss_kb(me) + sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period_s)

    def start(self) -> "PeakMemory":
        self._t.start()
        return self

    def reset(self) -> None:
        self.peak_kb = 0

    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


# -- one run -------------------------------------------------------------

class Run:
    """One benchmark process: its scratch directories, session and tracer.

    Every run gets its own tree (workdirs, stores, SPARK_LOCAL_DIRS,
    SPARK_GRAFT_MAT_DIR, java.io.tmpdir, event log), so two runs in one
    checkout never race. Corpora are cached under `.perfbench_work/cache`,
    keyed by workload, seed and size, and built into a temporary directory
    that is renamed into place, so concurrent runs see a whole entry or
    none."""

    def __init__(self, checkout: str, workload: str, seed: int, size: str,
                 trace: bool):
        self.checkout = checkout
        self.workload = workload
        self.seed = seed
        self.size = size
        self.trace = trace
        self.box = box()
        self.id = f"{workload}-s{seed}-{size}-{os.getpid()}-{time.time_ns()}"
        self.work = os.path.join(checkout, WORK_DIRNAME)
        self.dir = os.path.join(self.work, "runs", self.id)
        self.eventlog_dir = os.path.join(self.dir, "eventlog")
        for d in ("local", "tmp", "mat", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.dir, d), exist_ok=True)
        os.makedirs(os.path.join(self.work, "cache"), exist_ok=True)
        os.makedirs(os.path.join(self.work, "traces"), exist_ok=True)
        # read by the JVM and the Python workers it forks: set before the
        # first session starts the JVM
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["SPARK_GRAFT_MAT_DIR"] = os.path.join(self.dir, "mat")
        os.environ["TMPDIR"] = os.path.join(self.dir, "tmp")
        # the engine compiles its C kernels into $XDG_CACHE_HOME; shared by
        # the checkout's runs (the build renames atomically)
        os.environ["XDG_CACHE_HOME"] = os.path.join(self.work, "xdg_cache")
        self.tracer = Tracer(self.id, trace)
        self.spark = None

    def log_failure(self, what: str, exc: BaseException) -> None:
        """Failures go to stderr with their traceback; stdout stays the
        report."""
        print(f"perfbench: {what} failed:", file=sys.stderr)
        traceback.print_exception(exc, file=sys.stderr)

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    # -- session ---------------------------------------------------------

    def start_session(self):
        """(Re)start the session: local[nproc], heap bounded from
        /proc/meminfo, this run's directories, event log when tracing."""
        from go_cdc_chunkers_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        heap = driver_heap_mb(self.box["mem_total_mb"])
        extra = {
            "spark.driver.memory": f"{heap}m",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog_dir,
                # zstd (Spark's default codec) has no reader in the stdlib
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(app=f"perfbench-{self.workload}",
                               cpus=self.box["nproc"], extra=extra)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()

    def close(self) -> None:
        """Stop the session, end the gateway JVM and every process under
        this one, and drop the run's scratch tree."""
        if self.spark is not None:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            self.spark.stop()
            self.spark = None

            if gw is not None:
                proc = getattr(gw, "proc", None)
                with contextlib.suppress(Exception):
                    gw.shutdown()
                if proc is not None:
                    with contextlib.suppress(Exception):
                        proc.stdin.close()
                    with contextlib.suppress(Exception):
                        proc.wait(timeout=15)
        kill_tree(os.getpid())
        shutil.rmtree(self.dir, ignore_errors=True)

    # -- cached inputs ---------------------------------------------------

    def cached(self, key: str, build) -> tuple[str, float]:
        """Path of the cache entry `key`, built by `build(tmp_dir)` on a
        miss. Returns (path, seconds spent building; 0.0 on a hit)."""
        cache = os.path.join(self.work, "cache")
        dest = os.path.join(cache, key)
        if os.path.exists(os.path.join(dest, "_COMPLETE")):
            return dest, 0.0
        t0 = time.time()
        tmp = os.path.join(cache, f".tmp-{key}-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        open(os.path.join(tmp, "_COMPLETE"), "w").close()
        try:
            os.rename(tmp, dest)
        except OSError:  # another run landed the same entry first
            shutil.rmtree(tmp, ignore_errors=True)
        self._evict(cache, keep=dest)
        return dest, time.time() - t0

    @staticmethod
    def _evict(cache: str, keep: str) -> None:
        entries = [os.path.join(cache, d) for d in os.listdir(cache)
                   if not d.startswith(".")]
        entries.sort(key=os.path.getmtime, reverse=True)
        for old in entries[CACHE_KEEP:]:
            if old != keep:
                shutil.rmtree(old, ignore_errors=True)

    def fresh_copy(self, src: str, name: str) -> str:
        """A private copy of a cache entry's directory for this run."""
        dst = self.path(name)
        shutil.rmtree(dst, ignore_errors=True)
        shutil.copytree(src, dst)
        return dst


def expected_outputs(cache_dir: str, name: str, value) -> tuple[bool, object]:
    """Cross-run determinism: the first run of a cache entry records `value`
    under `name`; later runs of the same entry must reproduce it. Returns
    (matches, recorded value)."""
    path = os.path.join(cache_dir, f"expected-{name}.json")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(value, f, sort_keys=True)
        with contextlib.suppress(OSError):
            os.link(tmp, path)  # first writer wins
        os.unlink(tmp)
    with open(path) as f:
        recorded = json.load(f)
    return json.loads(json.dumps(value, sort_keys=True)) == recorded, recorded


def closed_loop(r, seconds: float, name: str, op) -> dict:
    """One client, closed loop: `op()` back to back until `seconds` have
    passed (at least one operation). An exception ends the loop and counts
    as a failed operation."""
    lat, outs, errors = [], [], 0
    t0 = time.time()
    while not lat or time.time() - t0 < seconds:
        t = time.time()
        try:
            with r.tracer.span(name, r.spark) as sp:
                r.tracer.root = sp["id"] if sp else None
                outs.append(op())
        except Exception as e:
            errors += 1
            r.log_failure(name, e)
            break
        finally:
            r.tracer.root = None
        lat.append(time.time() - t)
    return {"window": (t0, time.time()), "latency": lat, "outputs": outs,
            "attempted": len(lat) + errors, "errors": errors}


def digest(lines) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
