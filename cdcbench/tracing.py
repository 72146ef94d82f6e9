"""Spans around the benchmark's calls into the engine.

A span records its name, start, end and parent, runs under its own
Spark job group, and on exit attaches the stage metrics of every Spark
job submitted while it was open (read from the in-process status store,
which is populated with the UI off) plus the /proc CPU the JVM and the
Python workers spent meanwhile.  There is one client thread and no
background work, so "submitted while open" is exact.

``NullTracer`` is the untraced twin: same interface, records nothing
but names and times, so the workload code is identical in both runs.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

STAGE_FIELDS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputRecords",
    "inputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class NullTracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.perf_counter()
        rec = {"name": name, "attrs": attrs}
        yield rec
        rec["dur"] = time.perf_counter() - t0


class Tracer(NullTracer):
    def __init__(self, spark, tree, t_origin: float) -> None:
        super().__init__()
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self.store = self._jsc.statusStore()
        self.tree = tree
        self.t_origin = t_origin
        self.stack: list[dict] = []

    def _last_job(self) -> int:
        jobs = self.store.jobsList(None)
        return int(jobs.apply(0).jobId()) if jobs.size() else -1

    def _new_jobs(self, after: int) -> list:
        jobs = self.store.jobsList(None)  # newest first
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if int(j.jobId()) <= after:
                break
            out.append(j)
        return out

    def _stage_metrics(self, jobs: list) -> dict:
        agg = {f: 0 for f in STAGE_FIELDS}
        seen: set[int] = set()
        n_stages = 0
        for j in jobs:
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = int(ids.apply(k))
                if sid in seen:
                    continue
                seen.add(sid)
                s = self.store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                n_stages += 1
                for f in STAGE_FIELDS:
                    agg[f] += int(getattr(s, f)())
        agg["stages"] = n_stages
        return agg

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self.stack[-1] if self.stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self.stack.append(rec)
        group = f"cdcbench-span-{rec['id']}"
        self.sc.setJobGroup(group, name)
        job0 = self._last_job()
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            self.stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"cdcbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            # stage metrics reach the store through the listener bus
            self._jsc.listenerBus().waitUntilEmpty()
            jobs = self._new_jobs(job0)
            cpu1 = self.tree.cpu()
            rec.update(
                start=t0 - self.t_origin,
                end=t1 - self.t_origin,
                dur=t1 - t0,
                jobs=len(jobs),
                # streaming queries run their jobs under their own group
                own_group_jobs=sum(
                    1 for j in jobs
                    if j.jobGroup().isDefined() and j.jobGroup().get() == group
                ),
                **self._stage_metrics(jobs),
                jvm_cpu_s=cpu1["jvm"] - cpu0["jvm"],
                python_worker_cpu_s=cpu1["python_workers"] - cpu0["python_workers"],
            )

    def coverage(self, t_start: float, t_end: float) -> float:
        """Share of the measured wall interval covered by top-level spans."""
        covered = sum(
            s["dur"] for s in self.spans
            if s["parent"] is None and "start" in s
            and t_start <= s["start"] + self.t_origin <= t_end
        )
        return covered / max(t_end - t_start, 1e-9)
