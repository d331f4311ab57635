"""Measurement helpers: process-tree RSS sampling, layer spans and Spark's
own counters.

Everything here observes the package from outside: spans wrap the
benchmark's calls into each layer, counters are read from the
SparkContext's status tracker and status store, and stream progress comes
from a listener the benchmark registers. Spans stay in memory until
``Tracer.write`` at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener

def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        tree[ppid].append(int(entry))
    return tree


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    tree = _children()
    out, todo = [], list(tree.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(tree.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants: the driver
    Python process, the JVM it launched and the JVM's Python workers.
    Counted as PSS, so pages a forked worker shares with its parent are
    not counted twice."""
    tree = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(tree.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    daemon thread; ``peak`` is the largest sum seen since ``reset``."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    def start(self) -> None:
        self._thread.start()

    def reset(self) -> None:
        self.peak = tree_rss_bytes(os.getpid())

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)


class _StreamProgress(StreamingQueryListener):
    """Collects every progress event, keyed by the query's run id."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: dict[str, list] = defaultdict(list)

    def onQueryStarted(self, event):
        with self.lock:
            self.progress.setdefault(str(event.runId), [])

    def onQueryProgress(self, event):
        p = event.progress
        state_rows = sum(s.numRowsTotal for s in p.stateOperators)
        with self.lock:
            self.progress[str(p.runId)].append(
                (p.batchId, p.batchDuration / 1000.0, p.numInputRows, state_rows)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def drain(self) -> dict[str, list]:
        with self.lock:
            out, self.progress = dict(self.progress), defaultdict(list)
        return out


class Tracer:
    """Layer spans plus per-op Spark counter deltas.

    With ``enabled`` false every method is a no-op, so the untraced run
    executes the same code path with nothing recorded.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._op = None
        self._stack: list[int] = []
        self._groups: list[str] = []
        self._listener = None
        self.overhead_s = 0.0
        if enabled:
            self._listener = _StreamProgress()
            spark.streams.addListener(self._listener)

    # -- spans ---------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time one call into a layer; its Spark jobs run under a job
        group of their own so they can be counted per span."""
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        group = f"{self._op['op']}:{idx}"
        self.sc.setJobGroup(group, name)
        self._groups.append(group)
        rec = {"name": name, "op": self._op["op"], "parent": self._stack[-1] if self._stack else None,
               "group": group, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def span_seconds(self, op: dict, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["op"] == op["op"] and s["name"] == name)

    # -- per-op counters -------------------------------------------------
    def _executor_totals(self) -> dict[str, float]:
        store = self.sc._jsc.sc().statusStore()
        execs = store.executorList(True)
        tot = defaultdict(float)
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["task_s"] += e.totalDuration() / 1000.0
            tot["gc_s"] += e.totalGCTime() / 1000.0
            tot["input_bytes"] += e.totalInputBytes()
            tot["shuffle_bytes"] += e.totalShuffleRead() + e.totalShuffleWrite()
            tot["failed_tasks"] += e.failedTasks()
            tot["cores"] += e.totalCores()
        return tot

    def _settle(self) -> None:
        # status-store counters are updated by the listener bus after the
        # action returns; wait for it so the op's tasks are all counted
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def begin_op(self, op_id: int, name: str) -> None:
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._settle()
        self._op = {"op": op_id, "name": name, "before": self._executor_totals()}
        self._groups = []
        self.overhead_s += time.perf_counter() - t0

    def end_op(self, wall_s: float) -> dict | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        self._settle()
        op = self._op
        after = self._executor_totals()
        delta = {k: after[k] - op["before"].get(k, 0.0) for k in after}
        delta["cores"] = after["cores"]
        streams = self._listener.drain()
        jobs, stages, tasks = self._count(list(self._groups) + list(streams))
        drives = []
        for events in streams.values():
            batches = {b: (d, rows) for b, d, _, rows in events}
            if batches:
                drives.append({
                    "batches": len(batches),
                    "batch_s": sum(d for d, _ in batches.values()) / len(batches),
                    "state_rows": max(rows for _, rows in batches.values()),
                })
        op.pop("before")
        op.update(wall_s=wall_s, executor=delta, jobs=jobs, stages=stages, tasks=tasks, drives=drives)
        self.ops.append(op)
        self._op = None
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t0
        return op

    def _count(self, groups) -> tuple[int, int, int]:
        """Jobs, stages that ran tasks, and tasks, over job groups."""
        jobs = stages = tasks = 0
        tracker = self.sc.statusTracker()
        for g in groups:
            for j in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st and st.numCompletedTasks + st.numFailedTasks > 0:
                        stages += 1
                        tasks += st.numCompletedTasks + st.numFailedTasks
        return jobs, stages, tasks

    def counts_in(self, op: dict, name: str) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of the op's spans called ``name``."""
        return self._count(s["group"] for s in self.spans
                           if s["op"] == op["op"] and s["name"] == name)

    @contextmanager
    def within(self, op: dict):
        """Extra traced work for a finished op, e.g. prefix runs; its time
        counts as tracing overhead."""
        t0 = time.perf_counter()
        self._op = op
        try:
            yield
        finally:
            self._op = None
            self.overhead_s += time.perf_counter() - t0

    def close(self) -> None:
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": self.spans, "ops": self.ops}, fh)
