"""Outside-in accounting: spans around layer calls, Spark job/stage/
task/Exchange counts per span, and a /proc RSS sampler for the
PySpark Python workers.

Nothing here reaches inside ``rdfa_spark``: a span wraps a call into a
layer's public function, tags the Spark jobs it launches with a job
group, and reads what Spark's own status stores recorded about them.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time

_NODE = re.compile(r"[A-Za-z=]")
RSS_INTERVAL_S = 0.05


def plan_exchanges(plan: str) -> int:
    """Exchange operators that ran, from a formatted physical-plan
    description: the tree's final plan only, without AQE initial plans
    and without the plans of cached relations (they ran when the cache
    was filled).  ReusedExchange moves no data and is not counted."""
    tree = plan.split("\n\n", 1)[0].splitlines()[1:]
    count, skip_col, skip_same = 0, None, False
    for line in tree:
        m = _NODE.search(line)
        if m is None:
            continue
        col, node = m.start(), line[m.start():]
        if skip_col is not None:
            if col > skip_col or (skip_same and col == skip_col):
                continue
            skip_col = None
        if node.startswith("== Initial Plan =="):
            skip_col, skip_same = col, True
        elif node.startswith("InMemoryRelation"):
            skip_col, skip_same = col, False
        elif re.match(r"(?:Broadcast)?Exchange\b", node):
            count += 1
    return count


class SparkCounts:
    """Jobs, stages, tasks and Exchanges launched under a job group,
    read from ``StatusTracker`` and the SQL status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def sql_execution_count(self) -> int:
        return self._sql.executionsCount()

    def for_group(self, group: str, since_execution: int) -> dict:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                st = self.tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        job_set = set(jobs)
        exchanges = 0
        # only the executions recorded since the span started
        execs = self._sql.executionsList(since_execution, 1 << 30)
        for i in range(execs.size()):
            e = execs.apply(i)
            ids = {int(k) for k in _scala_keys(e.jobs())}
            if ids & job_set:
                exchanges += plan_exchanges(e.physicalPlanDescription())
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "exchanges": exchanges}


def _scala_keys(m):
    it = m.keysIterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """In-memory spans (name, start, end, parent, run id).  Disabled,
    ``span`` costs one branch and records nothing, so untraced runs
    measure the program alone."""

    def __init__(self, run_id: str, enabled: bool, counts=None):
        self.run_id = run_id
        self.enabled = enabled
        self.counts = counts
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"run": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"{self.run_id}/{rec['id']}/{name}"
        since = self.counts.sql_execution_count() if self.counts else 0
        if self.counts:
            self.counts.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.counts:
                rec.update(self.counts.for_group(group, since))
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    self.counts.sc.setJobGroup(
                        f"{self.run_id}/{parent['id']}/{parent['name']}",
                        parent["name"])
                else:
                    self.counts.sc.setLocalProperty(
                        "spark.jobGroup.id", None)

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer (the span name's first component):
        each span's duration minus the union of its children's."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], ()),
                            key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            layer = s["name"].split(".")[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]
                                                - covered)
        return out

    def per_span_counts(self, name: str) -> dict[str, float]:
        """Spark counts of the spans called ``name`` and their
        descendants, averaged over the ``name`` spans."""
        inside: set[int] = set()
        roots = 0
        out = {"jobs": 0.0, "stages": 0.0, "tasks": 0.0, "exchanges": 0.0}
        for s in self.spans:     # parents precede their children
            if s["name"] == name:
                roots += 1
            elif s["parent"] not in inside:
                continue
            inside.add(s["id"])
            for k in out:
                out[k] += s.get(k, 0)
        return {k: v / max(roots, 1) for k, v in out.items()}

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class RssSampler:
    """Peak resident set size of any PySpark Python worker (the daemon
    and the workers it forks), polled from /proc in a thread."""

    def __init__(self):
        self.peak_bytes = 0
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._workers: dict[int, bool] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _is_worker(self, pid: int) -> bool:
        known = self._workers.get(pid)
        if known is None:
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    known = b"pyspark.daemon" in fh.read()
            except OSError:
                known = False
            self._workers[pid] = known
        return known

    def sample(self) -> None:
        for name in os.listdir("/proc"):
            if not name.isdigit() or not self._is_worker(int(name)):
                continue
            try:
                with open(f"/proc/{name}/statm", "rb") as fh:
                    rss = int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)
