"""Spans recorded from the benchmark's side of each public call, with the
Spark stage counters of the jobs each span ran.

A span records name, start, end, parent and the run id. While a span is
open its Spark jobs carry the span id as their job group, so after the run
the jobs (and through them the stages) map back to spans. Spans stay in
memory; `attach_stage_counters()` reads the UI REST API once at the end and
`finish()` writes the spans out."""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

from . import procs


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.overhead_s = 0.0   # time spent in the tracer's own bookkeeping

    @contextmanager
    def span(self, name: str):
        """Times the body and splits the process tree's CPU over it into
        driver, JVM and Python-worker seconds."""
        b0 = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = {"id": f"{self.run_id}:{len(self.spans)}", "name": name,
              "parent": parent["id"] if parent else None,
              "run_id": self.run_id}
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp["id"], name)
        cpu0 = procs.split()
        sp["start"] = time.time()
        self.overhead_s += time.perf_counter() - b0
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            b1 = time.perf_counter()
            sp["cpu"] = procs.delta(cpu0, procs.split())
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent["id"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.overhead_s += time.perf_counter() - b1

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    # -- stage counters ----------------------------------------------------

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.load(r)

    def attach_stage_counters(self, skew_spans: set[str] = frozenset()) -> None:
        """Per span: executor run time, shuffle read/write bytes and records,
        spill, failed tasks, and (for spans named in `skew_spans`) task-time
        max / median of the span's heaviest stage."""
        b0 = time.perf_counter()
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._rest("stages")}
        by_group: dict[str, list[int]] = {}
        for job in self._rest("jobs"):
            by_group.setdefault(job.get("jobGroup"), []).extend(job["stageIds"])
        for sp in self.spans:
            ids = set(by_group.get(sp["id"], []))
            mine = [s for (sid, _), s in stages.items() if sid in ids]
            c = {"stages": len(mine),
                 "executor_s": sum(s.get("executorRunTime", 0)
                                   for s in mine) / 1e3,
                 "shuffle_mb": sum(s.get("shuffleReadBytes", 0)
                                   + s.get("shuffleWriteBytes", 0)
                                   for s in mine) / 1e6,
                 "shuffle_records": sum(s.get("shuffleWriteRecords", 0)
                                        for s in mine),
                 "spill_mb": sum(s.get("memoryBytesSpilled", 0)
                                 + s.get("diskBytesSpilled", 0)
                                 for s in mine) / 1e6,
                 "failed_tasks": sum(s.get("numFailedTasks", 0) for s in mine),
                 "task_skew": 1.0}
            if sp["name"] in skew_spans and mine:
                heavy = max(mine, key=lambda s: s.get("executorRunTime", 0))
                c["task_skew"] = self._task_skew(heavy)
            sp["stage"] = c
        self.overhead_s += time.perf_counter() - b0

    def _task_skew(self, stage: dict) -> float:
        q = self._rest(f"stages/{stage['stageId']}/{stage['attemptId']}/"
                       "taskSummary?quantiles=0.5,1.0")["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def stage(self, name: str, key: str) -> float:
        vals = [s["stage"][key] for s in self.spans if s["name"] == name]
        if key == "task_skew":
            return max(vals, default=1.0)
        return sum(vals)

    def layer_sum_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["parent"] is None)

    def finish(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")

