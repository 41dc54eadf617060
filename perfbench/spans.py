"""In-memory spans for the traced run.

A span wraps one public call into the package. It records its name, start,
end, parent span and request id, and runs the call's Spark jobs under a job
group of its own. After the run, ``Tracer.resolve`` reads each group's jobs,
stages, tasks and shuffle bytes from the driver's status store, so the
counts come from Spark itself, not from the package. With tracing off every
span is a no-op and no job group is set.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        """Yield the span record (a dict callers may add attributes to)."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": next(self._ids), "name": name, "rid": rid,
               "parent": parent["id"] if parent else None, **attrs}
        rec["group"] = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(parent["group"], parent["name"])
            self.spans.append(rec)

    def resolve(self) -> list[dict]:
        """Attach Spark work counts and self time to every recorded span.

        Counts cover the span's own job group only. Stages that Spark
        skipped (their shuffle output was reused) are not counted."""
        if not self.spans:
            return []
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        for s in self.spans:
            jobs = sorted(tracker.getJobIdsForGroup(s["group"]))
            stages = tasks = shuffle_w = shuffle_r = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in (info.stageIds if info else []):
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() == "SKIPPED":
                        continue
                    stages += 1
                    tasks += st.numTasks()
                    shuffle_w += st.shuffleWriteBytes()
                    shuffle_r += st.shuffleReadBytes()
            s.update(jobs=len(jobs), stages=stages, tasks=tasks,
                     shuffle_write_bytes=shuffle_w, shuffle_read_bytes=shuffle_r)
        child_time: dict[int, float] = {}
        for s in self.spans:
            s["wall_s"] = s["end"] - s["start"]
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["wall_s"]
        for s in self.spans:
            s["self_s"] = s["wall_s"] - child_time.get(s["id"], 0.0)
        return self.spans

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]
