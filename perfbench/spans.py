"""Spans and Spark counters, measured from outside the engine.

Each layer call runs under its own ``setJobGroup``, one after another
(spans do not nest: every layer is called from outside); after it returns,
the jobs of that group and their stages are read from Spark's live
status store (available with ``spark.ui.enabled=false``). Spans and
counters stay in memory and are written as one JSON file at the end.

With ``enabled=False`` the tracer only times spans: no job groups, no
status-store reads, so the untraced run measures the program alone.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

from host import tree_cpu_s

STAGE_FIELDS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.tracer_s = 0.0  # driver time spent reading the status store

    @contextmanager
    def span(self, name: str):
        """Time one layer call. When tracing, its Spark jobs are grouped
        under ``name`` and their stage counters land on the span."""
        sc = self.spark.sparkContext
        # the group id is unique per span: a group's job list is cumulative
        rec = {"name": name, "group": f"{len(self.spans)}:{name}"}
        self.spans.append(rec)
        if self.enabled:
            sc.setJobGroup(rec["group"], name)
        rec["cpu_start"] = tree_cpu_s()
        rec["start"] = time.monotonic()
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            rec["cpu_end"] = tree_cpu_s()
            if self.enabled:
                for key in ("spark.jobGroup.id", "spark.job.description"):
                    sc.setLocalProperty(key, None)
                rec.update(self._group_counters(rec["group"]))

    def _group_counters(self, group: str) -> dict:
        t0 = time.monotonic()
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.spark.sparkContext.statusTracker()
        store = jsc.statusStore()
        out = {k: 0 for k in STAGE_FIELDS}
        job_ids = tracker.getJobIdsForGroup(group)
        names = []
        seen = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            names.append(store.job(jid).name())
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                for key, getter in STAGE_FIELDS.items():
                    out[key] += int(getattr(sd, getter)())
        out["jobs"] = len(job_ids)
        out["job_names"] = names
        self.tracer_s += time.monotonic() - t0
        return out

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]

    @staticmethod
    def cpu(rec: dict) -> float:
        """CPU seconds of the driver, its JVM and Python workers in the span."""
        return rec["cpu_end"] - rec["cpu_start"]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1,
                      default=str)
