"""Spans, Spark event-log folding and process-tree memory sampling.

Spans are recorded by the benchmark around its calls into each layer
(name, start, end, parent, shared run id), kept in memory and written
once at the end. A disabled tracer records nothing, so untraced runs
pay only a context-manager call per layer call.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

SPARK_FIELDS = ("in_jobs_s", "outside_jobs_s", "task_cpu_s", "gc_s", "shuffle_mb")


class Tracer:
    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def paused(self):
        """Record nothing inside (warm-up calls)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append(None)
        rec = {"id": sid, "name": name, "parent": stack[-1] if stack else None,
               "run": self.run_id, "start": time.time(), **attrs}
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.time()
            self.spans[sid] = rec

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.closed(), fh)


def read_event_log(log_dir: str) -> list[dict]:
    """Finished jobs (id, group, submit/end wall seconds) with their task
    totals, from an uncompressed Spark event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    # Spark 4 rolls event logs into eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus")
    )
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {"id": jid, "group": props.get("spark.jobGroup.id"),
                                 "start": ev["Submission Time"] / 1000.0, "end": None,
                                 "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    job["shuffle_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    ) / 2**20
    return sorted((j for j in jobs.values() if j["end"] is not None), key=lambda j: j["start"])


def fold_jobs(spans: list[dict], jobs: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name, the per-call median of: wall time inside Spark jobs
    (union of job intervals clipped to the span), wall time outside any
    job, task CPU, GC and shuffle MB. A job counts for every span whose
    interval holds its submission time, so a layer's figures include the
    layers it calls."""
    per_call: dict[str, list[dict[str, float]]] = {}
    for s in spans:
        mine = [j for j in jobs if s["start"] <= j["start"] <= s["end"]]
        busy, lo, hi = 0.0, None, None
        for a, b in sorted((max(j["start"], s["start"]), min(j["end"], s["end"])) for j in mine):
            if hi is None or a > hi:
                busy += (hi - lo) if hi is not None else 0.0
                lo, hi = a, b
            else:
                hi = max(hi, b)
        busy += (hi - lo) if hi is not None else 0.0
        per_call.setdefault(s["name"], []).append({
            "in_jobs_s": busy,
            "outside_jobs_s": (s["end"] - s["start"]) - busy,
            "task_cpu_s": sum(j["cpu_s"] for j in mine),
            "gc_s": sum(j["gc_s"] for j in mine),
            "shuffle_mb": sum(j["shuffle_mb"] for j in mine),
        })
    return {
        name: {f: statistics.median(c[f] for c in calls) for f in SPARK_FIELDS}
        for name, calls in per_call.items()
    }


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """Live processes started, directly or not, by ``root``."""
    return [p for p in _tree(root) if p != root and _alive(p)]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _pss_kb(pid: int) -> tuple[int, bool]:
    """(proportional set size in kB, is a JVM). PSS splits pages shared
    between forked Python workers instead of counting them once per
    process, as RSS would."""
    with open(f"/proc/{pid}/comm") as fh:
        jvm = fh.read().strip() == "java"
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]), jvm
    return 0, jvm


def tree_pss_mb(root: int) -> tuple[float, float]:
    """(JVM, everything else) memory of ``root`` and its descendants, MB."""
    jvm_kb = other_kb = 0
    for pid in _tree(root):
        try:
            kb, is_jvm = _pss_kb(pid)
        except OSError:
            continue
        if is_jvm:
            jvm_kb += kb
        else:
            other_kb += kb
    return jvm_kb / 1024.0, other_kb / 1024.0


class MemSampler(threading.Thread):
    """Peak memory of this process plus every descendant (the JVM, its
    Python workers, the tail generator), sampled from /proc."""

    def __init__(self, interval: float = 0.25) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = self.jvm_peak_mb = self.python_peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        root = os.getpid()
        while not self._halt.is_set():
            jvm, other = tree_pss_mb(root)
            self.peak_mb = max(self.peak_mb, jvm + other)
            self.jvm_peak_mb = max(self.jvm_peak_mb, jvm)
            self.python_peak_mb = max(self.python_peak_mb, other)
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb
