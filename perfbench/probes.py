"""Measurement helpers: process-tree CPU and memory, layer spans, the
streaming listener and the Spark event-log summary."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> dict[int, list[str]]:
    """pid -> /proc stat fields (after the command name) for ``root`` and
    all its descendants."""
    procs: dict[int, list[str]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode()
        except OSError:
            continue  # raced a process exit
        procs[int(pid)] = raw[raw.rfind(")") + 2 :].split()
    children: dict[int, list[int]] = {}
    for pid, fields in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        p = todo.pop()
        if p in procs and p not in out:
            out[p] = procs[p]
            todo += children.get(p, [])
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree: the driver, the JVM and the Python
    workers. Children that exited and were reaped count through their
    parent's cutime/cstime, so the total never drops when a worker ends."""
    tree = _tree(root or os.getpid())
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14)) for f in tree.values()) / _TICK


def tree_rss_mib(root: int | None = None) -> float:
    tree = _tree(root or os.getpid())
    return sum(int(f[21]) for f in tree.values()) * _PAGE / (1 << 20)


class RssSampler:
    """Samples the process tree's resident memory in a thread; ``peak_mib``
    is the largest sum seen between ``start`` and ``stop``."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mib = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mib = max(self.peak_mib, tree_rss_mib())
            self._stop.wait(self.interval)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mib = max(self.peak_mib, tree_rss_mib())


class Tracer:
    """Layer spans and counts recorded from the benchmark's own files.

    Disabled, ``span`` costs nothing and ``force`` returns its frame
    unchanged. Enabled, ``force`` persists the frame and counts it, so the
    layer's Spark work runs inside the span that names it. Spans are kept
    in memory (name, start, end, parent, run id) and written by ``dump``.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.run_id = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "run": self.run_id,
            "parent": self.spans[self._stack[-1]]["name"] if self._stack else None,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def force(self, name: str | None, df, count_as: str | None = None):
        if not self.enabled:
            return df
        df = df.persist()  # released by the cache reset before the next operation
        if name is None:
            n = df.count()
        else:
            with self.span(name):
                n = df.count()
        if count_as:
            self.counts[count_as] = self.counts.get(count_as, 0) + n
        return df

    def seconds(self, name: str, run: int) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans if s["name"] == name and s["run"] == run
        )

    def window(self, name: str, run: int) -> tuple[float, float] | None:
        for s in self.spans:
            if s["name"] == name and s["run"] == run:
                return s["start"], s["end"]
        return None

    def dump(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, "metrics": metrics}, f, indent=1)


def batch_listener(spark):
    """Register a streaming listener that records each micro-batch that
    read rows: its trigger time and ``addBatch`` time in seconds. Returns
    the listener; its ``batches`` list fills as progress events arrive."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Batches(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []
            self.started: list[float] = []

        def onQueryStarted(self, event):
            ts = datetime.fromisoformat(event.timestamp.replace("Z", "+00:00"))
            self.started.append(ts.timestamp())

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                d = p.durationMs
                self.batches.append(
                    {
                        "trigger_s": d.get("triggerExecution", 0) / 1000.0,
                        "add_batch_s": d.get("addBatch", 0) / 1000.0,
                    }
                )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Batches()
    spark.streams.addListener(listener)
    return listener


def event_log_summary(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Sum task metrics from the newest Spark event log in ``log_dir`` over
    the jobs and stages submitted inside ``windows`` (epoch seconds)."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    path = max(logs, key=os.path.getmtime)  # the session the timed runs used
    stage_submit: dict[tuple[int, int], float] = {}
    tasks: list[tuple[tuple[int, int], dict]] = []
    job_times: list[float] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_times.append(ev["Submission Time"] / 1000.0)
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stage_submit[key] = info.get("Submission Time", 0) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                tasks.append((key, ev.get("Task Metrics") or {}))

    def inside(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    jobs = sum(inside(t) for t in job_times)
    stages = {k for k, t in stage_submit.items() if inside(t)}
    out = {
        "jobs": jobs,
        "stages": len(stages),
        "tasks": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "gc_s": 0.0,
        "executor_cpu_s": 0.0,
        "executor_run_s": 0.0,
    }
    for key, m in tasks:
        if key not in stages:
            continue
        out["tasks"] += 1
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
    return out
