"""Measurement helpers: in-memory spans, process-tree RSS sampling and
Spark job/stage metrics.

Spans are recorded by the benchmark around its calls into the
program's public functions; nothing inside the program is patched.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory: name, start, end, parent span, op id."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, f) -> None:
        for s in self.spans:
            f.write(json.dumps({**s, "tracer": id(self)}) + "\n")


class NullTracer(Tracer):
    """Tracing off: ``span`` costs one generator frame and records nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str, **attrs):
        yield None


# --------------------------------------------------------------------------
# RSS of the whole process tree (driver, JVM, Python workers, server)
# --------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_SAMPLE_S = 0.1


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


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background thread sampling the tree RSS every ``RSS_SAMPLE_S``."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(RSS_SAMPLE_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --------------------------------------------------------------------------
# Spark: jobs per op from the status tracker, stage metrics from the UI
# REST API (executor run time, GC time, shuffle bytes)
# --------------------------------------------------------------------------


class SparkOps:
    """Tags each operation with its own job group so its jobs, stages
    and tasks can be attributed afterwards."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.groups: list[str] = []

    @contextmanager
    def op(self, n: int):
        group = f"perfbench-op-{n}"
        self.sc.setJobGroup(group, group)
        self.groups.append(group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def summary(self) -> dict:
        """Totals over the tagged ops: jobs, tasks, executor run time,
        GC time (ms) and shuffle bytes (read + write)."""
        tracker = self.sc.statusTracker()
        stage_ids: set[int] = set()
        jobs = 0
        for g in self.groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        stages = self._rest_stages()
        out = {"jobs": jobs, "tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_bytes": 0,
               "ops": len(self.groups)}
        for st in stages:
            if st.get("stageId") not in stage_ids:
                continue
            out["tasks"] += int(st.get("numCompleteTasks", 0))
            out["run_ms"] += int(st.get("executorRunTime", 0))
            out["gc_ms"] += int(st.get("jvmGcTime", 0))
            out["shuffle_bytes"] += int(st.get("shuffleReadBytes", 0)) + int(
                st.get("shuffleWriteBytes", 0))
        return out

    def _rest_stages(self) -> list[dict]:
        url = self.sc.uiWebUrl
        if not url:
            return []
        app = self.sc.applicationId
        # the status store catches up with task-end events asynchronously
        time.sleep(0.5)
        with urllib.request.urlopen(
            f"{url}/api/v1/applications/{app}/stages?status=complete", timeout=30
        ) as r:
            return json.loads(r.read())
