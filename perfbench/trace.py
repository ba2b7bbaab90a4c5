"""Measurement from outside the program: layer spans, process-tree memory,
Spark's event log and the session state a query leaves behind.

Nothing here changes what the program computes.  Spans set the Spark job
group of the calls they wrap so the event log can attribute jobs, stages
and tasks to them; with tracing off a span is a no-op.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Layer spans (name, start, end, parent), kept in memory and written
    out once at the end."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext whose job group follows the open span
        self._stack: list[int] = []

    def _group(self, span_id: int | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if span_id is None else f"span-{span_id}"
            )

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._group(self._stack[-1] if self._stack else None)

    def subtree(self, sid: int) -> set[int]:
        ids, changed = {sid}, True
        while changed:
            changed = False
            for s in self.spans:
                if s["parent"] in ids and s["id"] not in ids:
                    ids.add(s["id"])
                    changed = True
        return ids

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE / 2**20
    except OSError:
        return 0.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb() -> float:
    """RSS of every process this one started: the JVM and its Python
    workers."""
    return sum(_rss_mb(p) for p in descendants())


def python_worker_rss_mb() -> float:
    """RSS of the Python processes under the JVM (daemon and workers)."""
    return sum(_rss_mb(p) for p in descendants() if _comm(p).startswith("python"))


class RssSampler:
    """Samples ``tree_rss_mb`` on a thread; keeps every sample and the
    peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append(tree_rss_mb())
            self.peak = max(self.peak, self.samples[-1])
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_mb())


def residual_state(spark) -> dict:
    """Persistent RDDs, their cached bytes and the temp views of a session."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    views = [t for t in spark.catalog.listTables() if t.isTemporary]
    return {
        "persisted_rdds": int(jsc.getPersistentRDDs().size()),
        "cached_bytes": int(sum(i.memSize() + i.diskSize() for i in infos)),
        "temp_views": len(views),
    }


class EventLog:
    """Jobs, stages and tasks of one application's event log, grouped by
    the job group (``span-<id>``) they ran under."""

    def __init__(self, path: str):
        self.job_group: dict[int, str | None] = {}
        self.job_times: dict[int, list[float]] = {}  # [submitted, completed], epoch s
        self.stage_group: dict[int, str | None] = {}
        self.stage_tasks: dict[int, int] = {}
        self.tasks: dict[str | None, dict] = defaultdict(lambda: defaultdict(float))
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    self.job_group[ev["Job ID"]] = group
                    self.job_times[ev["Job ID"]] = [ev["Submission Time"] / 1000.0, None]
                    for sid in ev.get("Stage IDs", []):
                        self.stage_group.setdefault(sid, group)
                elif kind == "SparkListenerJobEnd":
                    self.job_times[ev["Job ID"]][1] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    self.stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
                elif kind == "SparkListenerTaskEnd":
                    group = self.stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics") or {}
                    agg = self.tasks[group]
                    agg["tasks"] += 1
                    agg["run_ms"] += m.get("Executor Run Time", 0)
                    agg["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    rd = m.get("Shuffle Read Metrics") or {}
                    agg["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )

    def counters(self, span_ids: set[int]) -> dict:
        """Totals over the jobs run under any of ``span_ids``, and the
        window from the first job's submission to the last job's completion
        (epoch seconds, by Spark's own clock; ``None`` without jobs)."""
        groups = {f"span-{i}" for i in span_ids}
        stages = [s for s, g in self.stage_group.items() if g in groups]
        times = [self.job_times[j] for j, g in self.job_group.items() if g in groups]
        out = {
            "jobs": len(times),
            "job_window": (min(t[0] for t in times), max(t[1] for t in times)) if times else None,
            "stages": sum(1 for s in stages if s in self.stage_tasks),
            "tasks": 0,
            "executor_run_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_bytes": 0,
            "spill_bytes": 0,
        }
        for g in groups:
            agg = self.tasks.get(g)
            if agg:
                out["tasks"] += int(agg["tasks"])
                out["executor_run_s"] += agg["run_ms"] / 1000.0
                out["shuffle_write_bytes"] += int(agg["shuffle_write"])
                out["shuffle_bytes"] += int(agg["shuffle_write"] + agg["shuffle_read"])
                out["spill_bytes"] += int(agg["spill"])
        return out
