"""Spans, self times and the counters the traced run reads: py4j round
trips, Spark's status store and the process tree's peak memory.

Spans are recorded by the benchmark's own code around its calls into the
engine (and by the benchmark sink on workers); they stay in memory and are
written once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span log: (name, start, end, parent index, run id)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "run": self.run_id})
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None):
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run": self.run_id})

    def write(self, path: str):
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of it its children cover
    (children clipped to the parent's interval; parallel children count
    once)."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = []
    for i, s in enumerate(spans):
        inner = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in kids.get(i, [])]
        inner = [(a, b) for a, b in inner if b > a]
        out.append((s["end"] - s["start"]) - covered(inner))
    return out


class Py4jCounter:
    """Counts py4j gateway round trips made from this process while on."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.on = False
        orig = self.client.send_command

        def send_command(*args, **kw):
            if self.on:
                self.calls += 1
            return orig(*args, **kw)
        self.client.send_command = send_command

    @contextmanager
    def counting(self):
        self.calls, self.on = 0, True
        try:
            yield self
        finally:
            self.on = False


class SparkCounters:
    """Jobs/stages/tasks and executor metrics of the stages created since
    `mark()`, read from the application status store."""

    def __init__(self, spark):
        self.jvm = spark.sparkContext._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.job0 = self.stage0 = -1

    def _last_ids(self):
        jobs = self.store.jobsList(None)
        stages = self.store.stageList(None, False, False,
                                      _empty_doubles(self.jvm), None)
        j = max([jobs.apply(i).jobId() for i in range(jobs.size())],
                default=-1)
        s = max([stages.apply(i).stageId() for i in range(stages.size())],
                default=-1)
        return j, s

    def mark(self):
        self.job0, self.stage0 = self._last_ids()

    def read(self) -> dict:
        jobs = self.store.jobsList(None)
        n_jobs = sum(1 for i in range(jobs.size())
                     if jobs.apply(i).jobId() > self.job0)
        stages = self.store.stageList(None, False, False,
                                      _empty_doubles(self.jvm), None)
        out = {"jobs": n_jobs, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
               "executor_cpu_s": 0.0, "shuffle_write_mb": 0.0,
               "spill_mb": 0.0, "jvm_gc_s": 0.0}
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= self.stage0:
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (st.memoryBytesSpilled()
                                + st.diskBytesSpilled()) / 2**20
            out["jvm_gc_s"] += st.jvmGcTime() / 1e3
        return out


def _empty_doubles(jvm):
    from pyspark import SparkContext
    return SparkContext._gateway.new_array(jvm.double, 0)


class RssSampler:
    """Memory of this process and all its descendants: the largest sum of
    the resident sets (VmRSS) of the processes alive together in one
    sample, taken every `period_s`. A peak shorter than the period can be
    missed; processes that never ran at the same time never add up."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self):
        parent = {}
        for p in os.listdir("/proc"):
            if p.isdigit():
                try:
                    with open(f"/proc/{p}/stat") as fh:
                        # the field after the parenthesised command name
                        parent[int(p)] = int(fh.read().rsplit(")", 1)[1]
                                             .split()[1])
                except (FileNotFoundError, ProcessLookupError, IndexError):
                    continue
        tree, todo = set(), [os.getpid()]
        while todo:
            p = todo.pop()
            tree.add(p)
            todo.extend(c for c, pp in parent.items() if pp == p)
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/status") as fh:
                    for line in fh:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except (FileNotFoundError, ProcessLookupError):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
