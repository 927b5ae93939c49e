"""Counts read from Spark around each timed operation.

`OpStats` records, per operation, the Spark jobs it ran (statusTracker, under
a job group the benchmark sets; jobs submitted from the engine's own thread
pools carry no group, so those are counted too) and the JVM's garbage
collection time (JMX; in local mode the driver JVM runs every task).
`event_log_stats` reads the Spark event log that only the traced run
writes, and sums the task metrics of the jobs submitted inside the timed
windows.
"""

from __future__ import annotations

import json
import os
import statistics


class OpStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jobs: list[int] = []
        self.gc_s: list[float] = []
        self._group = None

    def job_ids(self) -> set[int]:
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if self._group:
            ids |= set(st.getJobIdsForGroup(self._group))
        return ids

    def _gc_ms(self) -> int:
        beans = self.sc._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())

    def mark(self, i: int) -> None:
        self._group = f"perfbench-op-{i}"
        self.sc.setJobGroup(self._group, self._group)
        self._ids0 = self.job_ids()
        self._gc0 = self._gc_ms()

    def record(self) -> None:
        self.jobs.append(len(self.job_ids() - self._ids0))
        self.gc_s.append((self._gc_ms() - self._gc0) / 1000.0)
        self.sc.setJobGroup("perfbench-idle", "perfbench-idle")


def _events(log_dir: str):
    # Spark 4 writes a rolling log: a directory of events_* files per app
    for d, _sub, names in sorted(os.walk(log_dir)):
        for name in sorted(names):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(d, name)) as f:
                for line in f:
                    yield json.loads(line)


def event_log_stats(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Per-operation shuffle write / spill bytes and the worst stage's task
    skew (max / median task time), over jobs submitted in `windows`
    (epoch-second intervals of the timed operations)."""
    stage_in_window: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"] / 1000.0
            if any(a <= t <= b for a, b in windows):
                stage_in_window.update(ev["Stage IDs"])
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tasks.setdefault(ev["Stage ID"], []).append(ev)
    shuffle = spill = 0
    skew = 1.0
    for sid in stage_in_window:
        durs = []
        for ev in tasks.get(sid, []):
            m = ev["Task Metrics"]
            shuffle += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            spill += m["Disk Bytes Spilled"]
            info = ev["Task Info"]
            durs.append(info["Finish Time"] - info["Launch Time"])
        # ms-resolution task times: stages of tiny tasks would make the
        # ratio pure rounding, so only stages with a 5 ms median count
        if len(durs) >= 2 and statistics.median(durs) >= 5:
            skew = max(skew, max(durs) / statistics.median(durs))
    n = max(len(windows), 1)
    return {
        "shuffle_write_bytes": shuffle / n,
        "spill_bytes": spill / n,
        "task_skew": skew,
    }
