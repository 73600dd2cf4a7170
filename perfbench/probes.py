"""Measurement helpers: spans, process-tree memory, host telemetry and the
Spark event-log summary. Nothing here imports the program under test at
module level."""

from __future__ import annotations

import contextlib
import functools
import io
import json
import os
import statistics
import threading
import time
from typing import Callable, Dict, List, Optional


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans ``(name, start, end, parent, iteration)``.

    While ``enabled`` is false, spans and wrappers record nothing, so
    untraced iterations pay only a function call. Spans nest through an
    explicit stack (the benchmark is one closed-loop client on one
    thread)."""

    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: List[dict] = []
        self.counts: Dict[str, float] = {}
        self.iteration: Optional[int] = None
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "iteration": self.iteration}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: Callable) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper for the
        rest of the process. ``name(args, kwargs)`` names the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name(args, kwargs)):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self) -> List[float]:
        """Per span (same order as ``spans``), its self time in seconds:
        duration minus the union of its direct children's intervals."""
        children: Dict[int, List[tuple]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(
                    (rec["start"], rec["end"]))
        out = []
        for i, rec in enumerate(self.spans):
            covered, last_end = 0.0, rec["start"]
            for s, e in sorted(children.get(i, [])):
                s = max(s, last_end)
                if e > s:
                    covered += e - s
                    last_end = e
            out.append(rec["end"] - rec["start"] - covered)
        return out

    def root(self, i: int) -> int:
        """Index of the top-level span above span ``i``."""
        while self.spans[i]["parent"] is not None:
            i = self.spans[i]["parent"]
        return i

    def durations(self) -> Dict[str, List[float]]:
        out: Dict[str, List[float]] = {}
        for rec in self.spans:
            out.setdefault(rec["name"], []).append(rec["end"] - rec["start"])
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def median_ms(values: List[float]) -> float:
    return statistics.median(values) * 1000.0 if values else 0.0


# ---------------------------------------------------------------------------
# Process-tree memory
# ---------------------------------------------------------------------------

def _pss(pid: int) -> int:
    """Proportional set size in bytes: resident pages, each shared page
    divided among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _rss(pid: int) -> int:
    """Resident set size in bytes, from ``statm`` (constant time)."""
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree_rss(root: int) -> Dict[str, int]:
    """Resident memory of ``root`` ("driver") and its descendants, split
    into "jvm" (java processes) and "workers" (the JVM's Python daemon and
    workers). The Python processes count as PSS, so pages the forked
    workers share with the daemon count once. The JVM, which shares with
    no one, counts as RSS: reading its ``smaps_rollup`` walks a 2.6 GB
    address space, takes 15-40 ms of CPU and locks that address space,
    which every 0.1 s would slow the program it measures.

    A child the JVM is spawning (``chmod`` and the like) runs the JVM's
    executable in the JVM's own address space until it calls ``exec``.
    It is skipped, or one sample in that window would count the JVM
    twice."""
    kids: Dict[int, List[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out = {"driver": _pss(root), "jvm": 0, "workers": 0}
    frontier = [(pid, False) for pid in kids.get(root, [])]
    while frontier:
        pid, in_jvm = frontier.pop()
        is_jvm = _exe(pid) == "java"
        if is_jvm and in_jvm:
            continue
        if is_jvm:
            out["jvm"] += _rss(pid)
        else:
            out["workers"] += _pss(pid)
        frontier.extend((kid, is_jvm) for kid in kids.get(pid, []))
    return out


class PeakRss:
    """Background sampler of the process tree's summed RSS; keeps the
    split at the peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.peak = 0
        self.at_peak: Dict[str, int] = {}
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while True:
            split = tree_rss(me)
            if sum(split.values()) > self.peak:
                self.peak, self.at_peak = sum(split.values()), split
            if self._stop.wait(self._interval):
                return

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)

    def split_mb(self) -> Dict[str, float]:
        return {k: round(v / (1 << 20), 1) for k, v in self.at_peak.items()}


# ---------------------------------------------------------------------------
# Host telemetry
# ---------------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_times() -> List[int]:
    """Aggregate ``cpu`` line of /proc/stat (user .. steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def steal_share(before: List[int], after: List[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def calib_ms(spark) -> float:
    """Fixed host probe: a tiny pure-Python loop plus a pure-JVM sha2 job
    (no Python workers, no shuffle), in milliseconds."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    n = spark.sparkContext.defaultParallelism
    (spark.range(0, 2_000_000, numPartitions=n)
     .select(F.sha2(F.col("id").cast("string"), 256))
     .write.format("noop").mode("overwrite").save())
    return (time.perf_counter() - t0) * 1000.0


def heap_committed_mb(spark) -> float:
    """Heap the JVM has committed (the fixed ``-Xms`` heap)."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean()
    return bean.getHeapMemoryUsage().getCommitted() / (1 << 20)


def gc_ms(spark) -> float:
    """Cumulative JVM garbage-collection time (driver = executor JVM in
    local mode)."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return float(sum(max(b.getCollectionTime(), 0) for b in beans))


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

def eventlog_summary(event_dir: str) -> Dict[str, dict]:
    """Per job-description prefix (text before ``#``): jobs, stages, tasks,
    task_ms, wall_ms, shuffle bytes — the repository's own event-log
    parser (``bench_extra._report_eventlog``), pointed at ``event_dir``."""
    import bench_extra

    bench_extra.EVENT_DIR = event_dir
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bench_extra._report_eventlog([])
    out = {}
    for line in buf.getvalue().splitlines():
        rec = json.loads(line)
        out[rec.pop("desc")] = rec
    return out
