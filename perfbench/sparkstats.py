"""Spark and host counters, read per op.

Each op runs under its own job group; afterwards the group's jobs come from
``statusTracker()`` and each stage's task metrics from the JVM status store,
which keeps them with the UI off. Inside a traced op, the spans named in
:data:`SCOPED` move their jobs into a sub-group ``<op group>/<span name>``, so
that bytes and rows can be charged to the layer that moved them (the trigger
probes' scans are not extract reads; JDBC staging output is not a catalog
write). Host steal share and load average are recorded per run so that a
noisy run explains itself.
"""

from __future__ import annotations

import os
from collections import defaultdict
from contextlib import contextmanager

#: Stage-level fields summed per op, JVM accessor -> metric suffix.
STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputRecords": "input_records",
    "outputBytes": "output_bytes",
    "outputRecords": "output_records",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}

#: Spans whose Spark jobs are counted in a sub-group of the op's job group.
SCOPED = ("watermark.check", "load.write")

_GROUP = "spark.jobGroup.id"


class SparkCounters:
    """Per-op job/stage/task counters for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm  # noqa: SLF001
        self._store = self.sc._jsc.sc().statusStore()  # noqa: SLF001

    @contextmanager
    def group(self, name: str):
        """Run the body under job group ``name``."""
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP, None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def scope(self, span: str):
        """Run the body of span ``span`` in the sub-group of the current op's
        job group when ``span`` is one of :data:`SCOPED`."""
        outer = self.sc.getLocalProperty(_GROUP)
        if span not in SCOPED or outer is None:
            yield
            return
        self.sc.setLocalProperty(_GROUP, f"{outer.split('/')[0]}/{span}")
        try:
            yield
        finally:
            self.sc.setLocalProperty(_GROUP, outer)

    def read(self, name: str) -> dict[str, int]:
        """Jobs, stages and summed stage metrics of job group ``name`` and
        its sub-groups; ``<span>.<metric>`` keys repeat the metrics of each
        sub-group on its own."""
        # the status store is fed asynchronously; let it catch up first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
        out: dict[str, int] = defaultdict(int)
        seen: set[int] = set()  # a stage a later job reuses is counted once
        for span in (None, *SCOPED):
            part = self._read_group(f"{name}/{span}" if span else name, seen)
            for key, value in part.items():
                out[key] += value
                if span:
                    out[f"{span}.{key}"] += value
        return dict(out)

    def _read_group(self, group: str, seen: set[int]) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stage_ids -= seen
        seen |= stage_ids
        out: dict[str, int] = defaultdict(int)
        out["jobs"] = len(jobs)
        out["stages"] = len(stage_ids)
        empty = self._jvm.java.util.ArrayList()
        quantiles = self.sc._gateway.new_array(self._jvm.double, 0)  # noqa: SLF001
        for sid in stage_ids:
            attempts = self._store.stageData(sid, False, empty, False, quantiles)
            for i in range(attempts.size()):
                stage = attempts.apply(i)
                for field, key in STAGE_FIELDS.items():
                    out[key] += int(getattr(stage, field)())
        return out


def jvm_peak_rss_mb(sc) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB. The launcher
    execs into the JVM, so the gateway's process is the JVM itself."""
    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:  # noqa: SLF001
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two :func:`cpu_times` readings that
    the hypervisor stole (field 8 of the ``cpu`` line)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already counted in user
    return delta[7] / total if total > 0 else 0.0


def loadavg_1m() -> float:
    return os.getloadavg()[0]

