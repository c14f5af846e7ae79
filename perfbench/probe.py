"""Measurement from outside the program: spans, Spark engine counters,
executed-plan metrics and the resident memory of the process tree.

Nothing here reaches into the package. Engine counters come from the
application status store, keyed by the Spark job group each traced
layer runs under; row and Python-transfer counts come from the
executed physical plan of the DataFrame a layer returned (descending
into AQE query stages).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: engine counter -> unit, read per Spark job group
ENGINE_COUNTERS = {
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
#: seconds between two /proc samples of the process tree; a sample
#: walks all of /proc (~2.5 ms holding the GIL), so sampling more often
#: takes measurable time from the driver thread
RSS_INTERVAL_S = 0.2


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op_id: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Keeps spans in memory; ``dump`` writes them when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int, parent: str | None = None):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.perf_counter(), parent, op_id))

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _iter(java_seq):
    it = java_seq.iterator()
    while it.hasNext():
        yield it.next()


def group_counters(spark, group: str) -> dict[str, float]:
    """Engine counters of every job run under Spark job group ``group``."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(ENGINE_COUNTERS, 0.0)
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        for sid in _iter(store.job(job_id).stageIds()):
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 — a skipped stage never ran
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def plan_metrics(df) -> dict[str, float]:
    """Sums over the executed plan of ``df`` (run through its own
    QueryExecution, see :func:`materialize`): rows read by scans, the
    largest join output, Python rows and bytes crossing the Arrow
    boundary."""
    out = {"scan_rows": 0.0, "max_join_rows": 0.0, "python_rows": 0.0,
           "python_bytes": 0.0}

    def walk(node):
        cls = node.getClass().getName()
        if cls.endswith("AdaptiveSparkPlanExec"):
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        metrics = {}
        for kv in _iter(node.metrics()):
            metrics[kv._1()] = float(kv._2().value())
        name = node.nodeName()
        rows = metrics.get("numOutputRows", 0.0)
        if name.startswith("Scan"):
            out["scan_rows"] += rows
        if "Join" in name:
            out["max_join_rows"] = max(out["max_join_rows"], rows)
        out["python_rows"] += metrics.get("pythonNumRowsReceived", 0.0)
        out["python_bytes"] += metrics.get("pythonDataSent", 0.0) + metrics.get(
            "pythonDataReceived", 0.0
        )
        for child in _iter(node.children()):
            walk(child)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def materialize(df) -> int:
    """Run every column of ``df`` through its own QueryExecution (so
    :func:`plan_metrics` can read it afterwards) and return the row
    count. Unlike ``df.count()`` no projection is pruned away."""
    return int(df._jdf.queryExecution().toRdd().count())


class RssSampler:
    """Peak summed VmRSS of this process's descendants, sampled from
    /proc while ``running``: ``peak_kb`` over all of them (the JVM and
    the Python workers it forks), ``worker_peak_kb`` over the Python
    workers alone."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.worker_peak_kb = 0
        self.running = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def reset(self) -> None:
        self.peak_kb = self.worker_peak_kb = 0

    @staticmethod
    def tree_rss_kb(root: int) -> tuple[int, int]:
        """(all descendants, Python descendants) summed VmRSS in KiB."""
        children: dict[int, list[int]] = {}
        names: dict[int, str] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue
            head, rest = stat.rsplit(")", 1)
            pid = int(entry)
            names[pid] = head.split("(", 1)[1]
            children.setdefault(int(rest.split()[1]), []).append(pid)
        total = workers = 0
        todo = list(children.get(root, []))
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    rss = next(
                        (int(line.split()[1]) for line in fh if line.startswith("VmRSS:")),
                        0,
                    )
            except OSError:
                continue
            total += rss
            if names[pid].startswith("python"):
                workers += rss
        return total, workers

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(RSS_INTERVAL_S):
            if self.running:
                total, workers = self.tree_rss_kb(me)
                self.peak_kb = max(self.peak_kb, total)
                self.worker_peak_kb = max(self.worker_peak_kb, workers)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
