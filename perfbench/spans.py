"""Spans around the engine's public functions, with Spark counters.

A span records name, parent, thread, start and end.  While a span is
open its thread's Spark jobs carry the span's job group, so after the
run every span can be joined to the jobs, stages and task counters the
session's status store kept for that group.  Spans live in memory until
``harvest`` and ``dump`` at the end of the run.

With tracing off ``span`` records nothing and ``force`` returns its
input untouched, so the untraced run executes exactly the pipeline a
user would write.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

HARVEST_TIMEOUT_S = 10.0  # longest wait for running jobs before reading counters
STAGE_FIELDS = {
    # status-store field -> (counter name, scale)
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputRecords": ("input_records", 1),
    "outputRecords": ("output_records", 1),
    "outputBytes": ("output_bytes", 1),
}


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    thread: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=lambda: defaultdict(float))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"pb-{span.sid}", span.name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sp = Span(next(self._ids), stack[-1].sid if stack else None, name,
                  threading.current_thread().name, time.perf_counter())
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def force(self, df):
        """Traced runs materialise a lazy layer's output inside the
        caller's span, so the next span measures only its own work."""
        if not self.enabled:
            return df
        df = df.cache()
        df.count()
        return df

    # -- after the run ------------------------------------------------------

    def harvest(self) -> None:
        """Attach each span's own Spark jobs, stages and task counters,
        read from the status store once every job has finished."""
        if not self.spans:
            return
        jobs, stages = self._store_snapshot()
        by_sid = {s.sid: s for s in self.spans}
        counted = set()
        # A later job lists the shuffle stages it reuses as skipped; count
        # each stage once, for the first job that ran it.
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup")
            sp = by_sid.get(int(group[3:])) if group and group.startswith("pb-") else None
            new = set(job.get("stageIds", ())) - counted
            counted |= new
            if sp is None:
                continue
            sp.counts["jobs"] += 1
            for stage_id in new:
                st = stages.get(stage_id, {})
                for key, (name, scale) in STAGE_FIELDS.items():
                    sp.counts[name] += st.get(key, 0) * scale

    def _store_snapshot(self):
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        scala_module = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala_module)
        empty = jvm.java.util.ArrayList()
        deadline = time.monotonic() + HARVEST_TIMEOUT_S
        while True:
            jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stage_list = store.stageList(None, False, False, no_quantiles, empty)
        stages = {}
        for st in json.loads(mapper.writeValueAsString(stage_list)):
            # keep the latest attempt of each stage
            if st["stageId"] not in stages or st["attemptId"] > stages[st["stageId"]]["attemptId"]:
                stages[st["stageId"]] = st
        return jobs, stages

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        self_s = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "sid": s.sid, "parent": s.parent, "name": s.name, "thread": s.thread,
                    "start": s.start, "end": s.end, "self_s": self_s[s.sid],
                    "counts": dict(s.counts),
                }) + "\n")

    def self_times(self) -> dict[int, float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out = {}
        for sp in self.spans:
            covered, cur_s, cur_e = 0.0, 0.0, None
            for s, e in sorted(kids.get(sp.sid, ())):
                s, e = max(s, sp.start), min(e, sp.end)
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[sp.sid] = sp.duration - covered
        return out
