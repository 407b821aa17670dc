"""In-memory spans around the benchmark's calls into each engine layer.

A span records name, start, end, parent and the trace it belongs to.
Each span also runs its Spark jobs under its own job group, so the jobs
and tasks it launched can be read back from ``statusTracker()``, and
reads the JVM's cumulative GC time from the GarbageCollector MXBeans at
both ends.  Counts recorded against a span (rows, bytes) are kept with
it.  Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import itertools
import time


class Tracer:
    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self._beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._beans) / 1000.0

    @contextlib.contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = {"trace": self.trace_id, "id": next(self._ids), "name": name,
             "parent": parent["id"] if parent else None, "counts": {}}
        s["group"] = group = f"perfbench-{self.trace_id}-{s['id']}"
        sc.setJobGroup(group, name)
        self._stack.append(s)
        gc0 = self.gc_seconds()
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["gc_s"] = self.gc_seconds() - gc0
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                tasks += st.numCompletedTasks if st else 0
        return len(jobs), tasks

    def layer_metrics(self) -> dict[str, float]:
        """``<layer>.s``, ``.jobs``, ``.tasks`` and ``.gc_s`` per span
        name (summed over spans of the same name; a child's jobs are not
        its parent's), plus the counts recorded on each span."""
        out: dict[str, float] = {}
        for s in self.spans:
            jobs, tasks = self.jobs_and_tasks(s["group"])
            name = s["name"]
            for key, val in ((".s", s["end"] - s["start"]), (".jobs", jobs),
                             (".tasks", tasks), (".gc_s", s["gc_s"])):
                out[name + key] = out.get(name + key, 0) + val
            for k, v in s["counts"].items():
                out[f"{name}.{k}"] = v
        return out

    def dump(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "group"} for s in self.spans]
