"""Spans and Spark scheduler counts recorded by the benchmark.

Spans are taken in the benchmark's own code, around each call it makes into
one of the library's layers; nothing inside the library is instrumented.
A span holds (name, start, end, parent, run_id).  With tracing off the
tracer records nothing, so the untraced run measures the program alone and
the traced run's difference from it is the tracing overhead.

Scheduler counts come from Spark's StatusTracker: every measured call runs
under its own job group, and the jobs, stages and tasks of that group are
summed once the listener bus has caught up with the call.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of recording one span, taken on a throwaway tracer."""
        probe = Tracer(True, "probe")
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe"):
                pass
        return (time.perf_counter() - t0) / n

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


class JobGroups:
    """Exact jobs/stages/tasks per measured call, from StatusTracker."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.run_id = run_id
        self._n = 0

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields a dict that holds
        {"jobs", "stages", "tasks"} once the block has finished."""
        self._n += 1
        gid = f"{self.run_id}:{self._n}:{label}"
        self.sc.setJobGroup(gid, label)
        counts: dict = {}
        try:
            yield counts
        finally:
            self.sc.setJobGroup(f"{self.run_id}:idle", "idle")
        counts.update(self._count(gid))

    def _count(self, gid: str, timeout_s: float = 30.0) -> dict:
        # the listener bus is asynchronous: wait until every job of the
        # group has ended so its stage and task totals are final
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [self.tracker.getJobInfo(j) for j in self.tracker.getJobIdsForGroup(gid)]
            if all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"job group {gid} did not finish in {timeout_s}s")
            time.sleep(0.02)
        stages = set()
        tasks = 0
        for j in jobs:
            for sid in j.stageIds:
                info = self.tracker.getStageInfo(sid)
                # stages skipped because their shuffle output was reused
                # ran no task and are not counted
                if info is not None and info.numCompletedTasks > 0 and sid not in stages:
                    stages.add(sid)
                    tasks += info.numCompletedTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}
