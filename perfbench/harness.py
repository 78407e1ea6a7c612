"""Measurement plumbing shared by the workloads: the tail-percentile rule,
event latency arithmetic, span tracing, Spark job accounting, the
streaming progress listener, peak-RSS reading and the per-run directory.

Nothing here imports the engine at module load, so the statistics can be
tested without a JVM.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import os
import shutil
import signal
import threading
import time
from collections.abc import Iterable, Sequence
from contextlib import contextmanager

#: the tail is the highest percentile with at least this many samples beyond it
TAIL_MIN_BEYOND = 10
#: ... but never above p99, so a single stall cannot become the whole tail,
#: and never below the median
TAIL_CAP_PCT = 99.0
TAIL_FLOOR_PCT = 50.0


def median(values: Sequence[float]) -> float:
    s = sorted(values)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def tail_percentile(
    values: Sequence[float], min_beyond: int = TAIL_MIN_BEYOND, cap: float = TAIL_CAP_PCT
) -> tuple[float, float, int]:
    """``(percentile, value, samples_beyond)`` for the highest percentile
    (nearest-rank, capped at ``cap``) that leaves at least ``min_beyond``
    samples after it in sorted order, and never a value below the median.
    With fewer than ``2 * min_beyond`` samples no percentile above the
    median qualifies: the median is returned with the (smaller) number of
    samples beyond it, which the caller prints."""
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    pct = max(TAIL_FLOOR_PCT, min(cap, 100.0 * (n - min_beyond) / n))
    rank = max(1, math.ceil(pct * n / 100.0 - 1e-9))
    return pct, max(s[rank - 1], median(s)), n - rank


def parse_progress_timestamp(ts: str) -> float:
    """A StreamingQueryProgress ``timestamp`` (ISO-8601 UTC, ms) as epoch s."""
    return _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=_dt.timezone.utc
    ).timestamp()


def batch_commit_time(progress_timestamp: str, trigger_execution_ms: float) -> float:
    """When a micro-batch committed: its trigger start plus the trigger's
    execution time (which ends after the offset/commit log writes)."""
    return parse_progress_timestamp(progress_timestamp) + trigger_execution_ms / 1000.0


def batch_rates(starts: Sequence[float], events_per_batch: float) -> list[float]:
    """Events/s of each micro-batch of a drain but the last: its events over
    the time from its trigger's start to the next trigger's start, which is
    its own execution plus the engine's overhead before the next batch."""
    s = sorted(starts)
    return [events_per_batch / (b - a) for a, b in zip(s, s[1:])]


def event_latencies(
    due: Sequence[float], batch_ids: Sequence[int], commit_at: dict[int, float]
) -> list[float]:
    """Per-event latency: commit time of the event's micro-batch minus the
    time the event was due. Raises if an event's batch never committed."""
    if len(due) != len(batch_ids):
        raise ValueError("due times and batch ids differ in length")
    missing = {b for b in batch_ids if b not in commit_at}
    if missing:
        raise KeyError(f"no commit time for batches {sorted(missing)[:5]}")
    return [commit_at[b] - d for d, b in zip(due, batch_ids)]


def host_scaled(latency: float, wait: float, factor: float) -> float:
    """An event latency at reference host speed: the part spent waiting for
    its trigger is set by the schedule's wall clock and stays as it is; the
    rest is the engine's work and is multiplied by the run's host factor."""
    return wait + (latency - wait) * factor


# --- tracing ---------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, trace id, attrs) recorded
    around the benchmark's calls into each layer; written out at the end.
    A disabled tracer records nothing and costs one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, trace_id: str = "run", **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "v", None)
        if stack is None:
            stack = self._stack.v = []
        rec = {
            "name": name,
            "trace": trace_id,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.time(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobCounter:
    """Job / stage / task counts of everything run under a job group,
    read from the SparkContext's status tracker."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def counts(self, group: str) -> dict[str, int]:
        jobs = stages = tasks = failed = 0
        for jid in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numTasks == 0:
                    continue
                stages += 1
                tasks += st.numTasks
                failed += st.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def make_progress_listener():
    """A StreamingQueryListener collecting every progress event by run id
    (``recentProgress`` keeps only the last 100 triggers)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.by_run: dict[str, dict[int, dict]] = {}
            self.terminated: set[str] = set()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batch": int(p.batchId),
                "timestamp": p.timestamp,
                "rows": int(p.numInputRows),
                "duration_ms": {k: float(v) for k, v in dict(p.durationMs).items()},
            }
            with self.lock:
                self.by_run.setdefault(str(p.runId), {})[rec["batch"]] = rec

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def batches(self, run_id: str) -> list[dict]:
            with self.lock:
                return sorted(self.by_run.get(run_id, {}).values(), key=lambda r: r["batch"])

    return ProgressLog()


# --- processes and memory --------------------------------------------------


def _children(pid: int) -> list[int]:
    """Child processes of every thread of ``pid`` (a JVM forks from worker
    threads, not only from its main thread)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    """Running and not a zombie waiting for its new parent to reap it."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Peak resident memory of a process tree (driver JVM plus its Python
    workers), sampled from /proc on a background thread. Each process counts
    its proportional set size, so pages the forked workers share are
    counted once rather than once per worker."""

    def __init__(self, root_pid: int, interval_s: float = 0.25):
        self.root = root_pid
        self.interval = interval_s
        self.peak_kb = self.peak_root_kb = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = descendants(self.root)
        root_kb = _pss_kb(self.root)
        worker_kb = sum(_pss_kb(p) for p in kids)
        self.peak_kb = max(self.peak_kb, root_kb + worker_kb)
        self.peak_root_kb = max(self.peak_root_kb, root_kb)
        self.peak_workers = max(self.peak_workers, len(kids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread.start()

    def stop(self) -> None:
        """Idempotent: the first call takes the last sample."""
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_gone(pids: Iterable[int], timeout_s: float) -> None:
    """Wait for processes that are not our children to exit; kill leftovers."""
    deadline = time.monotonic() + timeout_s
    pending = set(pids)
    while pending and time.monotonic() < deadline:
        pending = {p for p in pending if _alive(p)}
        if pending:
            time.sleep(0.1)
    for p in pending:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# --- per-run directory -----------------------------------------------------


class RunDir:
    """A fresh directory under the checkout for one run's data, stage cache,
    checkpoints, sinks and scratch space; removed when the run ends so runs
    neither warm each other nor fill the disk."""

    def __init__(self, root: str, name: str):
        self.path = os.path.join(root, ".perfbench_runs", f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        try:
            os.rmdir(parent)
        except OSError:
            pass
