"""Outside-in layer tracing and process accounting for the benchmark.

Spans go around calls into an engine layer's public functions; each span
sets its own Spark job group, so every job it starts can be attributed to
it afterwards. Spans stay in memory and are written once, at exit. Job and
task counts come from the status tracker (works with the UI off); executor
CPU, Python-worker time, bytes sent to Python, shuffle and result bytes come
from the uncompressed Spark event log.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

OUTSIDE = "outside-spans"

# event-log task accumulables: SQL metric name -> counter key
_ACCUMULABLES = {
    "time to run Python workers": "python_ms",
    "data sent to Python workers": "to_python_bytes",
}


class Tracer:
    """Spans of (name, start, end, parent, request); ``sc=None`` turns
    tracing off, so an untraced run pays only a context-manager call."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list = []
        self._stack: list = []
        self._next = 0
        # False pauses recording (the traced run leaves every other
        # operation untraced to measure the tracing overhead)
        self.active = True
        if sc is not None:
            sc.setJobGroup(OUTSIDE, OUTSIDE)

    @contextmanager
    def span(self, name: str, request: str | None = None):
        if self.sc is None or not self.active:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent["request"] if parent else None),
            "group": f"span-{self._next}",
        }
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setJobGroup(OUTSIDE, OUTSIDE)
            self.spans.append(rec)

    def count_jobs(self) -> None:
        """Stamp each span with its own jobs and tasks from the status
        tracker. Call after the measured window, before the context stops."""
        st = self.sc.statusTracker()
        for rec in self.spans:
            jobs = st.getJobIdsForGroup(rec["group"])
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numCompletedTasks
            rec["jobs"] = len(jobs)
            rec["tasks"] = tasks

    def join_event_log(self, log_dir: str) -> None:
        """Add each span's own event-log counters (see ``read_event_log``)."""
        per_group = read_event_log(log_dir)
        for rec in self.spans:
            rec.update(per_group.get(rec["group"], {}))

    def totals(self, name: str) -> list:
        """One dict per span called ``name``: its wall time plus the counters
        of every job started inside it, its child spans' included."""
        children = defaultdict(list)
        for rec in self.spans:
            children[rec["parent"]].append(rec)

        def subtree(rec):
            c = Counter({k: v for k, v in rec.items() if k in _COUNTERS})
            for ch in children[rec["id"]]:
                c.update(subtree(ch))
            return c

        return [dict(subtree(r), wall_s=r["end"] - r["start"]) for r in self.spans if r["name"] == name]

    def table(self) -> dict:
        """Per span name: count, median wall and self time (wall minus the
        time its child spans cover) and the median of its own counters."""
        child_s = Counter()
        by_name = defaultdict(list)
        for rec in self.spans:
            by_name[rec["name"]].append(rec)
            if rec["parent"] is not None:
                child_s[rec["parent"]] += rec["end"] - rec["start"]
        out = {}
        for name, recs in by_name.items():
            row = {
                "n": len(recs),
                "wall_s": statistics.median(r["end"] - r["start"] for r in recs),
                "self_s": statistics.median(r["end"] - r["start"] - child_s[r["id"]] for r in recs),
            }
            for k in _COUNTERS:
                row[k] = statistics.median(r.get(k, 0) for r in recs)
            out[name] = row
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


_COUNTERS = ("jobs", "tasks", "cpu_ns", "result_bytes", "shuffle_bytes") + tuple(_ACCUMULABLES.values())


def read_event_log(log_dir: str) -> dict:
    """Per job group: executor CPU ns, result bytes (pulled to the Spark
    driver), shuffle bytes written, Python-worker ms, bytes sent to Python."""
    stage_group: dict = {}
    out: dict = defaultdict(Counter)
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    for s in e.get("Stage IDs", ()):
                        stage_group.setdefault(s, group)
                elif ev == "SparkListenerTaskEnd":
                    group = stage_group.get(e.get("Stage ID"))
                    if group is None:
                        continue
                    m = e.get("Task Metrics") or {}
                    c = out[group]
                    c["cpu_ns"] += int(m.get("Executor CPU Time", 0))
                    c["result_bytes"] += int(m.get("Result Size", 0))
                    c["shuffle_bytes"] += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
                    for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                        key = _ACCUMULABLES.get(a.get("Name"))
                        if key is not None:
                            c[key] += int(a.get("Update") or 0)
    return out


def _children(pids: set) -> set:
    """All live descendants of ``pids`` (one pass over /proc)."""
    ppid = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), set(pids)
    while frontier:
        frontier = {p for p, pp in ppid.items() if pp in frontier} - out
        out |= frontier
    return out


def proc_stat(pid: int) -> tuple:
    """(state, start time in clock ticks since boot, resident bytes,
    user+system CPU seconds) of one process, or None once it is gone. A
    pid is reused only by a process with another start time."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return fields[0], int(fields[19]), int(fields[21]) * _PAGE, (int(fields[11]) + int(fields[12])) / _HZ
    except (OSError, IndexError, ValueError):
        return None


_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple:
    """(busy, steal, total) jiffies of the whole host from /proc/stat; steal
    is time this VM's CPUs waited while the hypervisor ran other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return sum(v) - v[3] - v[4] - steal, steal, sum(v)


class ProcessSampler:
    """Peak resident memory and CPU time of this process plus every
    descendant (the JVM and its Python workers), sampled from /proc on a
    background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.seen: set = set()  # (pid, start time) of every descendant sampled
        self._cpu: dict = {}  # pid -> last CPU seconds seen
        self._lock = threading.Lock()  # the sampler thread and cpu_s() both sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="process-sampler", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        kids = _children({me})
        with self._lock:
            total = 0
            for pid in kids | {me}:
                st = proc_stat(pid)
                if st is None:
                    continue
                _, start, rss, cpu = st
                if pid != me:
                    self.seen.add((pid, start))
                total += rss
                if cpu:
                    self._cpu[pid] = cpu
            self.peak_bytes = max(self.peak_bytes, total)

    def cpu_s(self) -> float:
        """CPU seconds the process tree has used so far (a process that
        exited counts up to its last sample)."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "ProcessSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
