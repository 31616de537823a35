"""Measurement plumbing for the benchmark: driver-side spans, Spark
event-log aggregation, and process-tree memory read from ``/proc``.

Nothing here changes what the engine does. Spans time calls the benchmark
makes (or wraps) from its own files; the event log is Spark's own record of
every job, stage and task, grouped here by job description and by the
innermost benchmark span that was open when each job was submitted.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Spans:
    """In-memory span recorder: (name, start, end, parent). Starts and ends
    are epoch seconds so spans line up with event-log timestamps."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [r for r in self.records if r["name"] == name]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = [r for r in self.records if r["parent"] == rec["id"]]
        return rec["dur_s"] - sum(k["dur_s"] for k in kids)

    def innermost_at(self, t: float) -> dict | None:
        best = None
        for r in self.records:
            if r["end"] is not None and r["start"] <= t <= r["end"]:
                if best is None or r["start"] >= best["start"]:
                    best = r
        return best

    def lineage(self, rec: dict | None):
        """``rec`` and its ancestors, innermost first."""
        while rec is not None:
            yield rec
            rec = self.records[rec["parent"]] if rec["parent"] is not None else None

    def is_within(self, rec: dict | None, name: str) -> bool:
        return any(r["name"] == name for r in self.lineage(rec))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f, indent=1)


def wrap_call(spans: Spans, owner, attr: str, name: str) -> None:
    """Replace ``owner.attr`` with a version that records a span per call.
    Used in the traced run only, on public functions the engine calls
    through module attributes (so the wrapped name is the one resolved)."""
    fn = getattr(owner, attr)

    def wrapped(*args, **kwargs):
        with spans.span(name):
            return fn(*args, **kwargs)

    setattr(owner, attr, wrapped)


# --------------------------------------------------------------- event log

_KEEP = (
    '{"Event":"SparkListenerJobStart"',
    '{"Event":"SparkListenerJobEnd"',
    '{"Event":"SparkListenerStageCompleted"',
    '{"Event":"SparkListenerTaskEnd"',
)

#: SQL metrics that Python-evaluating plan nodes report per stage
_PY_ACCUMS = {
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
    "data sent to Python workers": "py_sent_b",
    "data returned from Python workers": "py_returned_b",
}


def _event_files(log_dir: str):
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            yield os.path.join(dirpath, name)


def read_eventlog(log_dir: str) -> tuple[list[dict], dict[int, dict]]:
    """Parse an uncompressed event log into (jobs, stages).

    jobs: [{id, desc, submit_ms, end_ms, stages}] in submission order.
    stages: stage id -> {job, submit_ms, wall_ms, tasks, run_ms, gc_ms,
    shuffle_write_b, spill_b, py_*, task_run_ms: [...]} (attempts summed).
    A completed stage is charged to the latest job that lists it and was
    submitted before the stage, so a reused shuffle stage is counted once.
    """
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_runs: dict[int, list[int]] = {}
    for path in _event_files(log_dir):
        with open(path) as f:
            for line in f:
                if not line.startswith(_KEEP):
                    continue
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "id": ev["Job ID"],
                        "desc": props.get("spark.job.description") or "",
                        "submit_ms": ev["Submission Time"],
                        "end_ms": None,
                        "stages": list(ev.get("Stage IDs", [])),
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    run = (ev.get("Task Metrics") or {}).get("Executor Run Time", 0)
                    task_runs.setdefault(ev["Stage ID"], []).append(run)
                else:
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], {
                        "job": None, "submit_ms": si.get("Submission Time") or 0,
                        "wall_ms": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "shuffle_write_b": 0, "spill_b": 0, "py_run_ms": 0,
                        "py_start_ms": 0, "py_sent_b": 0, "py_returned_b": 0,
                    })
                    if si.get("Completion Time") and si.get("Submission Time"):
                        st["wall_ms"] += si["Completion Time"] - si["Submission Time"]
                    st["tasks"] += si.get("Number of Tasks", 0)
                    for acc in si.get("Accumulables", []):
                        name, val = acc.get("Name"), acc.get("Value")
                        try:
                            val = int(val)
                        except (TypeError, ValueError):
                            continue
                        if name == "internal.metrics.executorRunTime":
                            st["run_ms"] += val
                        elif name == "internal.metrics.jvmGCTime":
                            st["gc_ms"] += val
                        elif name == "internal.metrics.shuffle.write.bytesWritten":
                            st["shuffle_write_b"] += val
                        elif name in ("internal.metrics.memoryBytesSpilled",
                                      "internal.metrics.diskBytesSpilled"):
                            st["spill_b"] += val
                        elif name in _PY_ACCUMS:
                            st[_PY_ACCUMS[name]] += val
    ordered = sorted(jobs.values(), key=lambda j: j["id"])
    for sid, st in stages.items():
        st["task_run_ms"] = task_runs.get(sid, [])
        owners = [j for j in ordered if sid in j["stages"] and j["submit_ms"] <= st["submit_ms"]]
        if owners:
            st["job"] = owners[-1]["id"]
    return ordered, stages


def jobs_wall_s(jobs: list[dict]) -> float:
    """Summed submission-to-completion wall of jobs (they run one at a
    time here: the benchmark's driver is a single closed-loop thread)."""
    return sum((j["end_ms"] or j["submit_ms"]) - j["submit_ms"] for j in jobs) / 1000.0


class JobSet:
    """Aggregates over a subset of event-log jobs."""

    def __init__(self, jobs: list[dict], stages: dict[int, dict]):
        self.jobs = jobs
        ids = {j["id"] for j in jobs}
        self.stages = [s for s in stages.values() if s["job"] in ids]

    def __len__(self) -> int:
        return len(self.jobs)

    def total(self, key: str) -> int:
        return sum(s[key] for s in self.stages)

    def task_skew(self) -> float:
        """max / median task run time in the longest stage (1.0 if none)."""
        staged = [s for s in self.stages if s["task_run_ms"]]
        if not staged:
            return 1.0
        longest = max(staged, key=lambda s: s["wall_ms"])
        runs = longest["task_run_ms"]
        med = statistics.median(runs)
        return max(runs) / med if med > 0 else 1.0


def assign_jobs(jobs: list[dict], spans: Spans) -> None:
    """Tag each job with the innermost span open at its submission."""
    for j in jobs:
        j["span"] = spans.innermost_at(j["submit_ms"] / 1000.0)


# ---------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root_pid: int | None = None) -> list[int]:
    root_pid = root_pid or os.getpid()
    kids = _children_map()
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_times() -> list[int]:
    """Machine-wide CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from ``/proc/stat``, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times()`` readings: a run with a high value ran on a busy host."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def peak_rss_by_process(root_pid: int | None = None) -> dict[int, tuple[str, float]]:
    """pid -> (command name, VmHWM MB) for this process and every
    descendant: this Python process, its JVM and the Python workers the JVM
    forked."""
    out = {}
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[pid] = (fields["Name"].strip(), int(fields["VmHWM"].split()[0]) / 1024.0)
    return out
