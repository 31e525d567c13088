"""Measurement plumbing: spans around the calls into each layer, job
attribution from Spark's event log, streaming progress, and memory.

Spans are recorded from outside the package: :meth:`Tracer.wrap`
replaces a function or method with a timing wrapper for the traced
phase and :meth:`Tracer.restore` puts the original back.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

STAT_KEYS = ("calls", "self_s", "jobs", "tasks", "driver_s", "bytes_written")


class Tracer:
    """Keeps spans in memory; each span is [name, start, end, parent]
    with times in epoch seconds (comparable with the event log's
    millisecond timestamps)."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self._patched: list[tuple[object, str, object | None]] = []
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, owner, attr: str, name: str) -> None:
        own = attr in vars(owner)
        if isinstance(owner, type):
            # the plain function, even when a base class defines it
            orig = next(vars(k)[attr] for k in owner.__mro__ if attr in vars(k))
        else:
            orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = self._stack()
            # foreachBatch handlers run on a callback thread: their
            # outermost span nests under the driver thread's open span
            parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else -1)
            span = [name, time.time(), None, parent]
            with self._lock:
                self.spans.append(span)
                idx = len(self.spans) - 1
            stack.append(idx)
            try:
                return orig(*args, **kwargs)
            finally:
                span[2] = time.time()
                stack.pop()

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig if own else None))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def calls(self, name: str) -> list[list]:
        return [s for s in self.spans if s[0] == name and s[2] is not None]


def _subtract(intervals: list[tuple[float, float]], cuts: list[tuple[float, float]]):
    """``intervals`` minus the union of ``cuts`` (both lists of (a, b))."""
    out = []
    cuts = sorted(cuts)
    for a, b in intervals:
        cur = a
        for c0, c1 in cuts:
            if c1 <= cur or c0 >= b:
                continue
            if c0 > cur:
                out.append((cur, c0))
            cur = max(cur, c1)
            if cur >= b:
                break
        if cur < b:
            out.append((cur, b))
    return out


def _length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from an uncompressed, non-rolling Spark event log:
    [{id, start, end, tasks, bytes_written}] with times in epoch s."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"id": jid, "start": ev["Submission Time"] / 1e3,
                                 "end": None, "tasks": 0, "bytes_written": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    if job is not None:
                        job["tasks"] += 1
                        out = (ev.get("Task Metrics") or {}).get("Output Metrics") or {}
                        job["bytes_written"] += int(out.get("Bytes Written", 0))
    return [j for j in jobs.values() if j["end"] is not None]


def layer_stats(tracer: Tracer, jobs: list[dict], names: list[str]) -> dict[str, dict]:
    """Per span name: calls, self time, attributed jobs/tasks/bytes and
    driver time (self time with no Spark job running).

    A job belongs to the innermost span whose interval holds its
    submission: of all spans open at that instant, the latest started.
    """
    spans = [s for s in tracer.spans if s[2] is not None]
    children: dict[int, list[tuple[float, float]]] = {}
    index = {id(s): i for i, s in enumerate(tracer.spans)}
    for s in spans:
        if s[3] >= 0:
            children.setdefault(s[3], []).append((s[1], s[2]))
    job_iv = [(j["start"], j["end"]) for j in jobs]
    owner: dict[int, list[dict]] = {}
    for j in jobs:
        best = None
        for s in spans:
            if s[1] <= j["start"] <= s[2] and (best is None or s[1] >= best[1]):
                best = s
        if best is not None:
            owner.setdefault(index[id(best)], []).append(j)
    out = {n: dict.fromkeys(STAT_KEYS, 0) for n in names}
    for s in spans:
        st = out.get(s[0])
        if st is None:
            continue
        i = index[id(s)]
        own = _subtract([(s[1], s[2])], children.get(i, []))
        mine = owner.get(i, [])
        st["calls"] += 1
        st["self_s"] += _length(own)
        st["driver_s"] += _length(_subtract(own, job_iv))
        st["jobs"] += len(mine)
        st["tasks"] += sum(j["tasks"] for j in mine)
        st["bytes_written"] += sum(j["bytes_written"] for j in mine)
    return out


def growth(durations: list[float]) -> float:
    """Mean of the last quarter over the mean of the first quarter."""
    q = len(durations) // 4
    if q == 0:
        return 1.0
    return statistics.fmean(durations[-q:]) / statistics.fmean(durations[:q])


class ProgressLog(StreamingQueryListener):
    """Collects every micro-batch's ``durationMs`` and counts query
    starts (a drift restart is a second start of the same query id
    inside one drain, under a new run id)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.starts = 0
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API names)
        with self._lock:
            self.starts += 1

    def onQueryProgress(self, event):  # noqa: N802
        p = event.progress
        with self._lock:
            self.batches.append({
                "id": str(p.id), "run": str(p.runId), "batch": p.batchId,
                "rows": p.numInputRows, "timestamp": p.timestamp,
                "duration_ms": dict(p.durationMs),
            })

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.runId))

    def wait_terminated(self, run_id: str, timeout_s: float = 30.0) -> None:
        """Listener delivery is asynchronous: block until the query run's
        termination (posted after its last progress) has arrived."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if run_id in self.terminated:
                    return
            time.sleep(0.02)
        raise TimeoutError(f"no termination event for query run {run_id}")


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its child
    processes (the driver JVM), in MiB."""
    me = os.getpid()
    pids = [me]
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me:
            pids.append(int(stat.split("/")[2]))
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
