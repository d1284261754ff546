"""Measurement helpers: percentiles, spans, process-tree RSS, run regime
and Spark event-log totals."""

from __future__ import annotations

import glob
import hashlib
import itertools
import json
import math
import os
import platform
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager

#: the tail percentile asked for, and the samples it must have beyond it
TAIL_Q = 0.95
TAIL_BEYOND = 10
#: seconds between two RSS samples
RSS_INTERVAL_S = 0.2


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 1])."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """``(value, q_used, n)``: the ``TAIL_Q`` percentile, or when fewer
    than ``TAIL_BEYOND`` samples lie above it, the highest nearest-rank
    percentile that still has ``TAIL_BEYOND`` samples above it.  When that
    percentile would fall below the median (fewer than ``2 * TAIL_BEYOND``
    samples), the median stands in, so the tail never reads below the
    median."""
    n = len(values)
    if n - math.ceil(TAIL_Q * n) >= TAIL_BEYOND:
        return percentile(values, TAIL_Q), TAIL_Q, n
    q_used = (n - TAIL_BEYOND) / n if n > TAIL_BEYOND else 0.0
    if q_used <= 0.5:
        return median(values), 0.5, n
    return percentile(values, q_used), q_used, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent id) written at exit.

    Disabled tracers keep no spans, so the untraced run pays only the
    ``with`` statement."""

    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "trace": self.trace_id,
            "name": name,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """A span measured elsewhere (e.g. on the stream thread)."""
        if not self.enabled:
            return
        stack = self._local.__dict__.get("stack") or []
        with self._lock:
            self.spans.append(
                {
                    "id": next(self._ids),
                    "parent": stack[-1]["id"] if stack else None,
                    "trace": self.trace_id,
                    "name": name,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {**extra, "spans": sorted(self.spans, key=lambda s: s["id"])},
                fh,
                indent=1,
            )


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    total = 0
    for pid, size in rss.items():
        p = pid
        while p and p != root:
            p = parent.get(p, 0)
        if p == root:
            total += size
    return total


class RssSampler:
    """RSS of this process and all its descendants (driver, JVM, Python
    workers) as ``(epoch s, bytes)`` samples from ``/proc``, taken on one
    thread."""

    def __init__(self) -> None:
        self.series: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._run, name="rss-sampler", daemon=True
        )

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.series.append((time.time(), _tree_rss_bytes(root)))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def git_sha(root: str) -> str | None:
    # the ceiling keeps git from searching the directories above ``root``
    env = {**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)}
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
            env=env,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def source_digest(package_dir: str) -> str:
    """sha256 over the package's .py files: identifies the code under test
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(package_dir, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, package_dir).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def regime(spark, root: str, package_dir: str) -> dict:
    import pyspark  # noqa: PLC0415

    return {
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "git_sha": git_sha(root),
        "source_digest": source_digest(package_dir),
    }


# --- Spark event log ---------------------------------------------------------

EVENTLOG_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.jvm_gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.cpu_utilization",
)


def eventlog_conf(directory: str) -> dict[str, str]:
    """Uncompressed, non-rolling event log: one JSON event per line."""
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": directory,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def eventlog_totals(
    path: str, window: tuple[float, float], cpus: int
) -> dict[str, float]:
    """Task totals of the jobs submitted inside ``window`` (epoch s)."""
    lo, hi = window[0] * 1000, window[1] * 1000
    jobs: set[int] = set()
    window_stages: set[int] = set()
    totals = dict.fromkeys(EVENTLOG_METRICS, 0.0)
    tasks = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                if lo <= ev["Submission Time"] <= hi:
                    jobs.add(ev["Job ID"])
                    window_stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    stages = set()
    for ev in tasks:
        if ev["Stage ID"] not in window_stages:
            continue
        m = ev.get("Task Metrics") or {}
        stages.add(ev["Stage ID"])
        totals["spark.tasks"] += 1
        totals["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        totals["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        totals["spark.jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        totals["spark.shuffle_read_bytes"] += rd.get(
            "Remote Bytes Read", 0
        ) + rd.get("Local Bytes Read", 0)
        wr = m.get("Shuffle Write Metrics") or {}
        totals["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        totals["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    totals["spark.jobs"] = float(len(jobs))
    totals["spark.stages"] = float(len(stages))
    wall = max(window[1] - window[0], 1e-9)
    totals["spark.cpu_utilization"] = totals["spark.executor_cpu_s"] / (wall * cpus)
    return totals


def eventlog_path(directory: str, app_id: str) -> str | None:
    """The event log the application ``app_id`` wrote into ``directory``."""
    matches = [
        p for p in glob.glob(os.path.join(directory, "*")) if app_id in os.path.basename(p)
    ]
    return matches[0] if matches else None
