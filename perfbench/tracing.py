"""Spans recorded by the benchmark around its calls into the program.

Nothing here reaches inside ``rag_pdf_parser_spark``: a span wraps a call
into a layer's public function, tags every Spark job that call starts with
a span-specific job group (``SparkContext.setJobGroup``), and on exit reads
how many jobs ran and how many tasks completed or failed from the public
``StatusTracker``. Completed counts, not planned ones: a stage that AQE
skips still lists its planned tasks, none of which ran. Spans live in
memory and are written out once, by the parent, when the run ends.

With tracing off, ``span`` only yields; job groups are never set, so the
untraced run is the program as a user drives it. With it on, the time the
tracer spends on its own bookkeeping (job-group calls, StatusTracker reads,
listing files on disk) is summed as ``overhead_s``.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

_ids = itertools.count(1)


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(_ids)
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{os.getpid()}-{sid}"
        rec = {"id": sid, "parent": parent["id"] if parent else None,
               "name": name, "group": group, "attrs": attrs, "jobs": 0, "tasks": 0,
               "failed_tasks": 0, "child_s": 0.0}
        self._stack.append(rec)
        t0 = time.perf_counter()
        self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            jobs, tasks, failed = self._counts(group)
            rec["jobs"] += jobs
            rec["tasks"] += tasks
            rec["failed_tasks"] += failed
            rec["s"] = rec["end"] - rec["start"]
            rec["self_s"] = rec["s"] - rec.pop("child_s")
            if parent is not None:
                # inclusive counts: a parent owns its children's jobs
                for k in ("jobs", "tasks", "failed_tasks"):
                    parent[k] += rec[k]
                parent["child_s"] += rec["s"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        job_ids = st.getJobIdsForGroup(group)
        stages = set()
        for jid in job_ids:
            info = st.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            si = st.getStageInfo(s)
            if si is not None:
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return len(job_ids), tasks, failed

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def files(self, path: str) -> dict[str, int]:
        """`file_set(path)`, counted as tracing overhead."""
        t0 = time.perf_counter()
        out = file_set(path)
        self.overhead_s += time.perf_counter() - t0
        return out


def file_set(path: str) -> dict[str, int]:
    """Size of every data file under `path`, listed from outside the
    program; Spark's checksum and marker files are skipped."""
    out = {}
    for root, _, names in os.walk(path):
        for n in names:
            if not (n.startswith(".") or n.startswith("_")):
                p = os.path.join(root, n)
                out[p] = os.path.getsize(p)
    return out
