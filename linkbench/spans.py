"""Spans and per-span Spark counters for the traced run.

A span times one call into ``ppack_spark`` (or the action that forces a
layer's output). While a span is open its Spark jobs run under a job
group of its own; when it closes, the jobs of that group are read back
from the status tracker and the stage data from the status store, so
the session's stage retention never has to hold more than one span's
stages. Spans are kept in memory and written out as JSON lines at the
end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_UNITS = {"jobs": "count", "tasks": "count", "busy_s": "s", "idle_core_s": "s",
                 "shuffle_write_mb": "MB", "spill_mb": "MB"}


@dataclass
class Span:
    name: str
    run_id: str
    parent: str | None
    start: float
    end: float = 0.0
    group: str = ""
    counters: dict = field(default_factory=dict)
    stages: int = 0
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; with ``spark`` set, also Spark counters per span."""

    def __init__(self, run_id: str, spark=None, cores: int = 1):
        self.run_id = run_id
        self.spark = spark
        self.cores = cores
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.run_id, parent.name if parent else None, time.perf_counter(),
                  group=f"{self.run_id}/{self._n}/{name}")
        self._n += 1
        if parent is not None:
            parent.children.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                own = self._read_counters(sc, sp.group)
                for child in sp.children:
                    for k in ("jobs", "tasks", "busy_s", "shuffle_write_mb", "spill_mb"):
                        own[k] += child.counters.get(k, 0)
                    own["stages"] += child.stages
                sp.stages = own.pop("stages")
                own["idle_core_s"] = max(sp.seconds * self.cores - own["busy_s"], 0.0)
                sp.counters = own
                if parent is not None:
                    sc.setJobGroup(parent.group, parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def _read_counters(self, sc, group: str) -> dict:
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        # the listener bus updates the store asynchronously: wait until
        # every job of the group has ended before reading its stages
        deadline = time.monotonic() + 5.0
        while time.monotonic() < deadline:
            infos = [tracker.getJobInfo(j) for j in jobs]
            if all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos):
                break
            time.sleep(0.02)
        out = {"jobs": len(jobs), "tasks": 0, "busy_s": 0.0,
               "shuffle_write_mb": 0.0, "spill_mb": 0.0, "stages": 0}
        seen: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info is not None else ():
                if s in seen:
                    continue
                seen.add(s)
                sd = self._stage(store, s)
                if sd is None or sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["busy_s"] += sd.executorRunTime() / 1000.0
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
                out["spill_mb"] += sd.diskBytesSpilled() / 1e6
        return out

    @staticmethod
    def _stage(store, stage_id: int):
        deadline = time.monotonic() + 2.0
        while True:
            try:
                sd = store.lastStageAttempt(stage_id)
            except Exception:  # py4j: stage not (or no longer) in the store
                sd = None
            if sd is None or sd.status().toString() not in ("ACTIVE", "PENDING"):
                return sd
            if time.monotonic() > deadline:
                return sd
            time.sleep(0.02)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "name": sp.name, "run_id": sp.run_id, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, "stages": sp.stages,
                    **sp.counters,
                }) + "\n")
