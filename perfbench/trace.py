"""In-memory spans for the traced run.

A span records (name, start, end, parent, run id), the CPU seconds of the
process tree during the span, and the Spark jobs it started. Each span
sets its own job group, so ``statusTracker()`` maps jobs and tasks to
spans. Jobs submitted from other driver threads (the per-class RF fit
pool) carry no group; they are counted as untagged jobs that ran during
the span. Spans are kept in memory; job and task counts are read once,
when the run ends, and the spans are written out then.
"""

from __future__ import annotations

import contextlib
import json
import time


class NullTracer:
    """Timed runs: no spans, no job groups."""

    def span(self, name: str):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark, run_id: str, cpu=lambda: 0.0):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.jtracker = self.sc._jsc.statusTracker()
        self.cpu = cpu
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def _group(self, sid: int) -> str:
        return f"{self.run_id}/{sid}"

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._group(sid), self.spans[sid]["name"])

    def _ids(self, java_ints) -> set[int]:
        """A Java ``int[]`` in one gateway call (iterating it from Python
        costs one call per element)."""
        txt = self.jvm.java.util.Arrays.toString(java_ints)[1:-1]
        return {int(x) for x in txt.split(",")} if txt else set()

    def _jobs(self, group: str | None) -> set[int]:
        return self._ids(self.jtracker.getJobIdsForGroup(group))

    def _tasks(self, jobs) -> int:
        n = 0
        for j in jobs:
            info = self.jtracker.getJobInfo(j)
            for s in (self._ids(info.stageIds()) if info else ()):
                st = self.jtracker.getStageInfo(s)
                n += st.numTasks() if st else 0
        return n

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        untagged0 = self._jobs(None)
        cpu0 = self.cpu()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["cpu_s"] = self.cpu() - cpu0
            rec["_untagged"] = self._jobs(None) - untagged0
            self._stack.pop()
            self._set_group(parent)

    @contextlib.contextmanager
    def wrap(self, module, attr: str, name: str):
        """Span every call of ``module.attr`` made while the block runs
        (for calls made inside engine functions)."""
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)
        try:
            yield
        finally:
            setattr(module, attr, fn)

    def harvest(self) -> None:
        """Read each span's jobs and tasks from the status tracker (it
        keeps the last ``spark.ui.retainedJobs`` jobs, 1000 by default)."""
        for s in self.spans:
            jobs = self._jobs(self._group(s["id"]))
            untagged = s.pop("_untagged")
            s.update(jobs=len(jobs), tasks=self._tasks(jobs),
                     untagged_jobs=len(untagged), untagged_tasks=self._tasks(untagged))

    # ------------------------------------------------------------- report

    def find(self, name: str, parent: str | None = None) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (parent is None or s["parent"] is not None
                     and self.spans[s["parent"]]["name"] == parent)]

    def self_times(self) -> list[dict]:
        """Each span's wall, self time (wall minus its children's walls),
        and self jobs; untagged jobs are booked to the innermost span that
        saw them."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in self.spans:
            ch = kids.get(s["id"], [])
            wall = s["end"] - s["start"]
            out.append({
                "id": s["id"], "name": s["name"], "parent": s["parent"],
                "wall_s": round(wall, 6),
                "self_s": round(wall - sum(c["end"] - c["start"] for c in ch), 6),
                "jobs": s["jobs"], "tasks": s["tasks"],
                "untagged_jobs": s["untagged_jobs"]
                - sum(c["untagged_jobs"] for c in ch),
            })
        return out

    def write(self, path: str, t0: float) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "start": s["start"] - t0,
                                    "end": s["end"] - t0}) + "\n")
