"""Spans around the benchmark's calls into the engine.

A span records name, start, end, parent and the trace id of the step or
query it belongs to. While tracing is on, each span runs its Spark jobs
under a job group of its own; :meth:`Tracer.harvest` then reads the
executor run/CPU time, shuffle bytes and spill of those jobs' stages
from the live status store and attaches them to the span. Streaming
queries run their jobs under their own run id as job group, so a span
that drives a stream names that group with :meth:`Tracer.adopt_group`.

Spans stay in memory and are written out when the run ends. A layer's
self time is its span's duration minus its child spans' durations
(children of one span run one after another, never overlapping).

With tracing off, :meth:`Tracer.span` only yields a scratch dict: no job
group is set and nothing is recorded.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

from cdcbench.common import session_cache

_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "shuffle_read_b": "shuffleReadBytes",
    "shuffle_write_b": "shuffleWriteBytes",
    "spill_mem_b": "memoryBytesSpilled",
    "spill_disk_b": "diskBytesSpilled",
}


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self.trace_id: str | None = None
        #: peak (persistent RDD count, cached MB) seen after any op
        self.cache_peak = (0, 0.0)

    @contextmanager
    def trace(self, trace_id: str):
        """Every span opened inside belongs to ``trace_id``."""
        prev, self.trace_id = self.trace_id, trace_id
        try:
            yield
        finally:
            self.trace_id = prev

    @contextmanager
    def span(self, name: str):
        """Time one call into a layer. The yielded dict takes counts
        (``rows``, ``changes``, ...) the caller measured at the
        boundary."""
        rec: dict = {"name": name}
        if not self.enabled:
            yield rec
            return
        parent = self._stack[-1] if self._stack else None
        rec.update(
            id=len(self.spans), parent=parent["id"] if parent else None,
            trace=self.trace_id, groups=[f"cdcbench-{len(self.spans)}"],
        )
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["groups"][0], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["groups"][0], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            self._pending.append(rec)

    def note_cache(self) -> None:
        """Sample the session's persisted state after an op (traced or
        not), so a leak shows as a count, not as a slower op."""
        rdds, mb = session_cache(self.sc)
        self.cache_peak = (max(self.cache_peak[0], rdds), max(self.cache_peak[1], mb))

    def adopt_group(self, rec: dict, group: str) -> None:
        """Attribute the jobs of another job group (a streaming query's
        run id) to span ``rec``."""
        if self.enabled:
            rec["groups"].append(group)

    def harvest(self) -> None:
        """Attach stage metrics to every span closed since the last
        harvest. Call after each step: the status store keeps only the
        most recent jobs."""
        if not self.enabled:
            return
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for rec in self._pending:
            agg = dict.fromkeys(_STAGE_FIELDS, 0)
            jobs = stages = 0
            for group in rec["groups"]:
                for job_id in tracker.getJobIdsForGroup(group):
                    jobs += 1
                    ids = store.job(job_id).stageIds().mkString(",")
                    for sid in filter(None, ids.split(",")):
                        stage = store.lastStageAttempt(int(sid))
                        if stage.status().toString() == "SKIPPED":
                            continue
                        stages += 1
                        for key, attr in _STAGE_FIELDS.items():
                            agg[key] += int(getattr(stage, attr)())
            rec.update(agg, jobs=jobs, stages=stages)
        self._pending = []

    # -- summaries --------------------------------------------------------

    def self_seconds(self) -> dict[int, float]:
        child = defaultdict(float)
        for rec in self.spans:
            if rec["parent"] is not None:
                child[rec["parent"]] += rec["end"] - rec["start"]
        return {
            rec["id"]: rec["end"] - rec["start"] - child[rec["id"]]
            for rec in self.spans
        }

    def by_name(self) -> dict[str, list[dict]]:
        """Closed spans grouped by name, each with ``self_s`` set."""
        selfs = self.self_seconds()
        out: dict[str, list[dict]] = defaultdict(list)
        for rec in self.spans:
            out[rec["name"]].append(dict(rec, self_s=selfs[rec["id"]]))
        return out

    def write(self, path: str) -> None:
        selfs = self.self_seconds()
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(dict(rec, self_s=selfs[rec["id"]])) + "\n")


def median_of(spans: list[dict], key: str, scale: float = 1.0) -> float:
    """Median per call of ``key`` over ``spans`` (0 when the layer did
    not run in this workload)."""
    vals = [s[key] * scale for s in spans if key in s]
    return statistics.median(vals) if vals else 0.0
