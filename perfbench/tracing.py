"""Outside-in tracing and host probes for the benchmark.

Spans are recorded from the benchmark's own code around each call into an
engine layer; the engine itself is not instrumented.  Spark work inside a
span is attributed through a per-span job group and read back from
``SparkContext.statusTracker()``.  Spans are kept in memory and written
once, when the run ends.
"""

from __future__ import annotations

import ctypes
import gc
import itertools
import json
import os
import time
from contextlib import contextmanager

import numpy as np
import pyarrow as pa


def spark_counts(sc, group: str) -> dict[str, int]:
    """Jobs, tasks run and tasks failed under one job group."""
    st = sc.statusTracker()
    jobs = tasks = failed = 0
    for job_id in st.getJobIdsForGroup(group):
        jobs += 1
        info = st.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            s = st.getStageInfo(stage_id)
            if s is not None:
                tasks += s.numCompletedTasks + s.numFailedTasks
                failed += s.numFailedTasks
    return {"jobs": jobs, "tasks": tasks, "failed_tasks": failed}


def persisted_rdd_ids(sc) -> set[int]:
    """Ids of the persisted RDDs still referenced: collect garbage in both
    processes, then wait until Spark's cleaner has dropped the unreferenced
    ones (the count is unchanged for three polls), so the answer does not
    depend on when a garbage collection happened to run."""
    gc.collect()
    sc._jvm.System.gc()
    rdds = sc._jsc.getPersistentRDDs()  # a snapshot: fetch again to poll
    seen = []
    deadline = time.monotonic() + 3
    while seen[-3:] != [rdds.size()] * 3 and time.monotonic() < deadline:
        seen.append(rdds.size())
        time.sleep(0.1)
        rdds = sc._jsc.getPersistentRDDs()
    return {int(k) for k in rdds.keySet()}


class Tracer:
    """Records spans (name, start, end, parent) with Spark counts.

    A disabled tracer only times: it sets no job group and keeps no span,
    so the untraced run pays nothing for it.
    """

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, spark_work: bool = True):
        """Yield a dict that the caller may add counts to.

        ``spark_work`` spans run under their own job group; only leaf
        spans may set it, because a job group does not nest.
        """
        rec: dict = {"name": name}
        if not self.enabled:
            yield rec
            return
        span_id = next(self._ids)
        rec.update(id=span_id, parent=self._stack[-1] if self._stack else None)
        group = f"perfbench-{span_id}"
        if spark_work:
            self.sc.setJobGroup(group, name)
        self._stack.append(span_id)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if spark_work:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(spark_counts(self.sc, group))
            self.spans.append(rec)

    def children(self, parent: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == parent["id"]]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def _tree_pids(root_pid: int) -> list[int]:
    """A process and all its descendants."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, ()))
    return pids


def reset_peak_rss() -> None:
    """Restart VmHWM at the current resident size in this process and its
    descendants, so input generation does not count in the peak.  This
    process first hands the memory generation freed back to the system."""
    gc.collect()
    pa.default_memory_pool().release_unused()
    ctypes.CDLL(None).malloc_trim(0)
    for pid in _tree_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def tree_peak_rss_mb(root_pid: int | None = None) -> tuple[float, dict]:
    """VmHWM summed over a process and all its descendants (driver, JVM,
    Python workers), in MB, with the per-command breakdown."""
    root_pid = root_pid or os.getpid()
    by_comm: dict[str, float] = {}
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in fields:
            key = f"{fields['Name'].strip()}" + ("" if pid != root_pid else "(driver)")
            by_comm[key] = by_comm.get(key, 0) + int(fields["VmHWM"].split()[0]) / 1024
    return sum(by_comm.values()), by_comm


def memory_bandwidth_gbs(mb: int = 128, passes: int = 5) -> float:
    """Read bandwidth over an array written before timing (so the pages are
    real, not the shared zero page); best of ``passes`` sums."""
    a = np.full(mb * 1024 * 1024 // 8, 1.0)
    best = float("inf")
    for _ in range(passes):
        t = time.perf_counter()
        a.sum()
        best = min(best, time.perf_counter() - t)
    return a.nbytes / best / 1e9
