"""Shared pieces of the benchmark: statistics, the RSS sampler, the span
tracer, Spark counters and the closed-loop HTTP client.

Nothing here imports the program under test, so the fast tests can load
this module without a JVM.
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def p50(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """The highest percentile of ``values`` that has at least ``beyond``
    samples above it, as ``(value, percentile)``; None when the sample is
    too small for that percentile to sit at or above the median.

    Taken from the same sample as :func:`p50`, so it can never read below
    it: the chosen order statistic has index ``n - beyond - 1``, which is
    at or past the median index whenever ``n >= 2 * beyond + 1``."""
    n = len(values)
    if n < 2 * beyond + 1:
        return None
    xs = sorted(values)
    i = n - beyond - 1
    return float(xs[i]), 100.0 * (i + 1) / n


# ---------------------------------------------------------------------------
# peak RSS over this process and every descendant (the JVM and its workers)
# ---------------------------------------------------------------------------


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(x) for x in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return total * _PAGE_MB


class RssSampler:
    """Samples the summed RSS of this process and the JVM (once
    :meth:`add` names it) every ``interval`` seconds on a daemon thread
    and keeps the peak.

    Only these two processes count. The JVM forks helper processes (the
    local file system's shell calls); between fork and exec each one
    briefly reports the whole JVM's resident pages again, and counting
    them made the peak of same-size runs jump by one or two JVM sizes."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.pids = [os.getpid()]
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def add(self, pid: int) -> None:
        self.pids = self.pids + [pid]

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.pids))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        if self._thread.is_alive():
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak_mb = max(self.peak_mb, rss_mb(self.pids))
        return self.peak_mb


def retained_heap_mb(spark, settle: float = 0.5, rounds: int = 12) -> float:
    """JVM heap in use after full collections: what the session keeps
    live (memory sinks, streaming state, the status store, cached plans),
    without the garbage whose collection timing sets peak RSS.

    PySpark's Python handles keep their JVM objects reachable until Python
    collects them, and Spark's ContextCleaner frees broadcast and shuffle
    blocks only after a JVM collection has found their handles unreachable.
    So this collects Python's garbage, then the JVM's every ``settle``
    seconds until the heap has not shrunk for two rounds."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    low, still = float("inf"), 0
    for _ in range(rounds):
        jvm.java.lang.System.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        low, still = (used, 0) if used < low else (low, still + 1)
        if still == 2:
            break
        time.sleep(settle)
    return low


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Each span is (id, name, start, end,
    parent id, request id); the parent is the innermost open span on the
    same thread unless given. ``enabled=False`` turns every call into a
    no-op so untraced runs pay one attribute test per boundary.
    ``cost_s`` sums the time spent recording: from entering a span to its
    start stamp and from its end stamp to the stored record."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.cost_s = 0.0
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self._local = threading.local()

    def current(self) -> tuple[int | None, str | None, str | None]:
        """(span id, request id, name) of the innermost open span here."""
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else (None, None, None)

    @contextmanager
    def span(self, name: str, rid: str | None = None, parent: int | None = None):
        if not self.enabled:
            yield None
            return
        c0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        if parent is None and stack:
            parent, outer_rid, _name = stack[-1]
            rid = rid or outer_rid
        with self._lock:
            sid = next(self._ids)
        stack.append((sid, rid, name))
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append((sid, name, t0, t1, parent, rid))
                self.cost_s += (t0 - c0) + (time.perf_counter() - t1)

    def self_times_ms(self) -> dict[str, list[float]]:
        """Per span name, the self time of each span: its duration minus
        the union of the intervals its direct children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for _sid, _n, t0, t1, parent, _r in self.spans:
            if parent is not None:
                kids.setdefault(parent, []).append((t0, t1))
        out: dict[str, list[float]] = {}
        for sid, name, t0, t1, _p, _r in self.spans:
            covered, end = 0.0, t0
            for a, b in sorted(kids.get(sid, ())):
                a, b = max(a, end), min(b, t1)
                if b > a:
                    covered += b - a
                    end = b
            out.setdefault(name, []).append((t1 - t0 - covered) * 1000.0)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keys = ("id", "name", "start", "end", "parent", "rid")
        with open(path, "w") as f:
            json.dump([dict(zip(keys, s)) for s in self.spans], f)


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------


def _cpu_s(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


class SparkCounters:
    """Cumulative counters read from Spark: the DAG scheduler's job
    id sequence, the status store's executor summaries (tasks, task time,
    GC time, shuffle bytes written) and process CPU of this interpreter
    and the JVM. Differences of two snapshots cover whatever ran between
    them, on any thread."""

    FIELDS = ("jobs", "tasks", "task_ms", "gc_ms", "shuffle_write_bytes",
              "python_cpu_s", "jvm_cpu_s")

    def __init__(self, spark):
        self._jsc = spark.sparkContext._jsc.sc()
        proc = getattr(spark.sparkContext._gateway, "proc", None)
        self._jvm_pid = proc.pid if proc is not None else None

    def snapshot(self) -> dict[str, float]:
        ex = self._jsc.statusStore().executorList(True)
        tasks = task_ms = gc_ms = shuffle = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            tasks += e.totalTasks()
            task_ms += e.totalDuration()
            gc_ms += e.totalGCTime()
            shuffle += e.totalShuffleWrite()
        t = os.times()
        return {
            "jobs": int(self._jsc.dagScheduler().nextJobId()),
            "tasks": tasks,
            "task_ms": task_ms,
            "gc_ms": gc_ms,
            "shuffle_write_bytes": shuffle,
            "python_cpu_s": t.user + t.system,
            "jvm_cpu_s": _cpu_s(self._jvm_pid) if self._jvm_pid else 0.0,
        }

    @staticmethod
    def per_op(before: dict, after: dict, ops: int) -> dict[str, float]:
        d = {k: after[k] - before[k] for k in SparkCounters.FIELDS}
        return {
            "spark.jobs_per_op": d["jobs"] / ops,
            "spark.tasks_per_op": d["tasks"] / ops,
            "spark.task_ms_per_op": d["task_ms"] / ops,
            "spark.shuffle_write_bytes_per_op": d["shuffle_write_bytes"] / ops,
            "spark.gc_ms_per_op": d["gc_ms"] / ops,
            "driver.python_cpu_s": d["python_cpu_s"],
            "driver.jvm_cpu_s": d["jvm_cpu_s"],
        }


# ---------------------------------------------------------------------------
# closed-loop HTTP clients
# ---------------------------------------------------------------------------


def post(base: str, path: str, sql: str, rid: str, timeout: float = 120) -> bytes:
    req = urllib.request.Request(
        base + path,
        data=json.dumps({"sql": sql}).encode(),
        headers={"Content-Type": "application/json", "X-Request-Id": rid},
    )
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.read()


def closed_loop(n_clients: int, n_requests: int, do_request) -> tuple[list, float]:
    """Run ``n_requests`` requests from ``n_clients`` threads, each sending
    its next request only after the previous one returned. ``do_request(i)``
    returns a record; records come back in request order with the wall
    time of the whole loop. An exception is recorded, not raised."""
    records: list = [None] * n_requests
    nxt = iter(range(n_requests))
    lock = threading.Lock()

    def client() -> None:
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                return
            try:
                records[i] = do_request(i)
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                records[i] = e

    threads = [threading.Thread(target=client, daemon=True) for _ in range(n_clients)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return records, time.perf_counter() - t0
