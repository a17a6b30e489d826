"""Measurement helpers for the benchmark: memory sampling, kernel timers,
and folds of Spark's event log and streaming progress into per-layer metrics.

Everything here observes the program from outside: it times calls into the
program's public functions and reads what Spark already records. Nothing
here changes what the program computes.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from typing import Callable, Iterable

# --------------------------------------------------------------------------
# small statistics
# --------------------------------------------------------------------------


def percentile(values: Iterable[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]; 0.0 for no values."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    xs = list(values)
    return statistics.median(xs) if xs else 0.0


# --------------------------------------------------------------------------
# memory: JVM + Python worker RSS, read from /proc (psutil is not available)
# --------------------------------------------------------------------------


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants that are alive now."""
    children = defaultdict(list)
    for pid, ppid in _ppid_map().items():
        children[ppid].append(pid)
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed RSS of a process tree (the Spark JVM and the Python
    workers it forks) on a background thread; ``peak_bytes`` is the largest
    sum seen between ``start`` and ``stop``."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        total = sum(_rss_bytes(p) for p in process_tree(self.root_pid))
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()


# --------------------------------------------------------------------------
# kernels: self time of wrapped entry points during an in-process replay
# --------------------------------------------------------------------------


class KernelTimer:
    """Wraps functions so that each call adds to its name's self time (own
    duration minus the time of wrapped calls nested inside it) and call
    count. ``count`` hooks turn a call's result into named counters."""

    def __init__(self):
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.counts: Counter = Counter()
        self._child_s: list[float] = []

    def wrap(self, name: str, fn: Callable,
             count: Callable[[object], dict[str, int]] | None = None) -> Callable:
        def timed(*args, **kwargs):
            self._child_s.append(0.0)
            t0 = time.perf_counter()
            try:
                result = fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                nested = self._child_s.pop()
                self.self_s[name] += dt - nested
                self.calls[name] += 1
                if self._child_s:
                    self._child_s[-1] += dt
            if count is not None:
                self.counts.update(count(result))
            return result

        return timed

    @contextmanager
    def patched(self, targets):
        """Install wrappers for ``(name, owner, attribute, count)`` targets
        and restore the originals on exit."""
        saved = []
        try:
            for name, owner, attr, count in targets:
                original = getattr(owner, attr)
                saved.append((owner, attr, original))
                setattr(owner, attr, self.wrap(name, original, count))
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)


# --------------------------------------------------------------------------
# Spark event log → per-stage sums, keyed by job description
# --------------------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class StageTotals:
    """Task metrics summed over the stages of one group of jobs."""

    def __init__(self):
        self.run_s = self.cpu_s = self.gc_s = self.wait_s = 0.0
        self.shuffle_write = self.shuffle_read = self.spill = 0
        self.peak_exec_mem = 0
        self.py_sent = self.py_returned = 0
        self.tasks = 0
        self.stage_task_run_s: dict[int, list[float]] = defaultdict(list)

    def skew(self) -> float:
        """max/mean task run time of the stage with the most run time."""
        if not self.stage_task_run_s:
            return 0.0
        runs = max(self.stage_task_run_s.values(), key=sum)
        mean = sum(runs) / len(runs)
        return max(runs) / mean if mean > 0 else 1.0


def fold_event_log(path: str, group_of: Callable[[str], str | None]) -> dict[str, StageTotals]:
    """Read one uncompressed Spark event log and sum task metrics per group.

    ``group_of(job_description)`` names the group a job belongs to, or None
    to ignore the job. A stage counts toward the group of the job that
    submitted it."""
    stage_group: dict[int, str] = {}
    stage_submit_ms: dict[int, int] = {}
    groups: dict[str, StageTotals] = defaultdict(StageTotals)
    with open(path) as f:
        # the log is in event order: a job starts before its stages are
        # submitted, and a stage before its tasks end
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = group_of(props.get("spark.job.description") or "")
                if group is not None:
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = group
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit_ms[info["Stage ID"]] = info["Submission Time"]
            elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_group:
                _add_task(groups[stage_group[ev["Stage ID"]]], ev, stage_submit_ms)
    return dict(groups)


def _add_task(t: StageTotals, ev: dict, stage_submit_ms: dict[int, int]) -> None:
    metrics = ev.get("Task Metrics")
    if not metrics:
        return
    sid, info = ev["Stage ID"], ev["Task Info"]
    run_s = metrics["Executor Run Time"] / 1e3
    t.tasks += 1
    t.run_s += run_s
    t.cpu_s += metrics["Executor CPU Time"] / 1e9
    t.gc_s += metrics["JVM GC Time"] / 1e3
    submitted = stage_submit_ms.get(sid, info["Launch Time"])
    t.wait_s += max(0, info["Launch Time"] - submitted) / 1e3
    t.stage_task_run_s[sid].append(run_s)
    sw = metrics.get("Shuffle Write Metrics") or {}
    sr = metrics.get("Shuffle Read Metrics") or {}
    t.shuffle_write += sw.get("Shuffle Bytes Written", 0)
    t.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    t.spill += metrics.get("Disk Bytes Spilled", 0)
    t.peak_exec_mem = max(t.peak_exec_mem, metrics.get("Peak Execution Memory", 0))
    for acc in info.get("Accumulables") or ():
        if acc.get("Name") == PY_SENT:
            t.py_sent += int(acc["Update"])
        elif acc.get("Name") == PY_RETURNED:
            t.py_returned += int(acc["Update"])


def merge(totals: Iterable[StageTotals]) -> StageTotals:
    out = StageTotals()
    for t in totals:
        for attr in ("run_s", "cpu_s", "gc_s", "wait_s", "shuffle_write", "shuffle_read",
                     "spill", "py_sent", "py_returned", "tasks"):
            setattr(out, attr, getattr(out, attr) + getattr(t, attr))
        out.peak_exec_mem = max(out.peak_exec_mem, t.peak_exec_mem)
        out.stage_task_run_s.update(t.stage_task_run_s)
    return out


def single_event_log(directory: str) -> str:
    logs = [os.path.join(directory, n) for n in os.listdir(directory)
            if not n.startswith(".") and not n.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {directory}, found {logs}")
    return logs[0]


# --------------------------------------------------------------------------
# streaming progress
# --------------------------------------------------------------------------


def fold_progress(progress: list[dict], first_batch: int) -> dict[str, list[float]]:
    """Per-micro-batch durations (s) and input rows of the data-carrying
    batches with id >= ``first_batch``."""
    out: dict[str, list[float]] = defaultdict(list)
    for p in progress:
        if p["batchId"] < first_batch or not p.get("numInputRows"):
            continue
        d = p["durationMs"]
        out["trigger_s"].append(d.get("triggerExecution", 0) / 1e3)
        out["add_batch_s"].append(d.get("addBatch", 0) / 1e3)
        out["query_planning_s"].append(d.get("queryPlanning", 0) / 1e3)
        out["wal_commit_s"].append(d.get("walCommit", 0) / 1e3)
        out["rows"].append(float(p["numInputRows"]))
    return out
