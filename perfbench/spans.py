"""Spans around calls into the engine, with the Spark work each caused.

A span records name, start, end, parent, run id, and the Spark jobs,
stages and tasks launched while it was the innermost open span.  Each
span gets its own job group (``SparkContext.setJobGroup``); on exit the
group's jobs are read back from ``statusTracker()``.  A span's own counts
exclude its children's; ``inclusive`` adds them back.

The tracer lives in the benchmark only: the engine is never edited to
carry spans.  Spans stay in memory and are written out by ``dump``.

Tracing adds to a run only the tracer's own calls into Spark (setting
the job group, reading the status tracker); ``overhead_s`` sums their
time, so it is the traced run's total minus what the untraced run would
take for the same work.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time the block; when tracing is off, a no-op that touches no
        Spark state (the untraced run measures the end-to-end metrics)."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None}
        self.spans.append(rec)
        group = f"{self.run_id}/{rec['id']}"
        t = time.perf_counter()
        self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        self.overhead_s += t0 - t
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["dur_s"] = t1 - t0
            rec["end"] = rec["start"] + rec["dur_s"]
            self._stack.pop()
            rec.update(self._spark_counts(group))
            if parent is not None:
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - t1

    def _spark_counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                # skipped stages (shuffle output reused) ran no task
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def inclusive(self, rec: dict, key: str) -> int:
        """``key`` (jobs/stages/tasks) of ``rec`` plus all its descendants."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return rec.get(key, 0) + sum(self.inclusive(k, key) for k in kids)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "dur_s" in s]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
