"""Spans around the benchmark's calls into each layer, with Spark counters.

A span records name, layer, start, end and parent. When tracing is on,
every span runs its Spark jobs under its own job group; after the traced
work, ``collect`` looks the jobs of each group up in ``statusTracker``
and reads their stages' task metrics from the driver's REST API
(``sc.uiWebUrl + /api/v1/applications/<id>/stages``). A job belongs to
the innermost open span, so summing a layer's spans counts each job once.

With tracing off, ``span`` records nothing and sets no job group.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Iterator

# counters read per span, summed over the stages of the span's jobs
STAGE_COUNTERS = (
    "jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes",
    "executor_cpu_s", "executor_run_s", "gc_s", "input_records",
)


@dataclass
class Span:
    id: int
    layer: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def name(self) -> str:
        return f"{self.layer}.{self.op}"

    @property
    def wall(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.id]
            if c.end > s.start and c.start < s.end
        ]
        out[s.id] = s.wall - _covered(clipped)
    return out


def layer_totals(spans: list[Span], cores: int) -> dict[str, dict[str, float]]:
    """Per layer: self time, wall per op (``<op>_s``), summed counters and
    idle slot time (self time x cores - executor run time of its jobs)."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        t = out[s.layer]
        t["self_s"] += selfs[s.id]
        t[f"{s.op}_s"] += s.wall
        for k, v in s.counters.items():
            t[k] += v
        t["idle_slot_s"] += selfs[s.id] * cores - s.counters.get("executor_run_s", 0.0)
    return out


def _group(sp: Span) -> str:
    return f"perfbench-span-{sp.id}"


class Tracer:
    """Collects spans; ``enabled`` switches per iteration."""

    def __init__(self, spark=None, cores: int = 1) -> None:
        self.spark = spark
        self.cores = cores
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()

    def span(self, layer: str, op: str):
        if not self.enabled:
            return nullcontext()
        return self._span(layer, op)

    @contextmanager
    def _span(self, layer: str, op: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), layer, op, parent.id if parent else None,
                  time.perf_counter() - self._t0)
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(_group(sp), sp.name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self._t0
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(_group(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def collect(self, spans: list[Span]) -> None:
        """Fill ``counters`` of ``spans`` from the status store. Called after
        the traced work, so reading the counters costs the spans nothing."""
        sc = self.spark.sparkContext
        # the status store is fed asynchronously; drain the listener bus so
        # every finished job and stage is recorded
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?details=false"
        with urllib.request.urlopen(url, timeout=30) as resp:
            stages = {st["stageId"]: st for st in json.load(resp) if st["status"] == "COMPLETE"}
        for sp in spans:
            job_ids = tracker.getJobIdsForGroup(_group(sp))
            stage_ids: set[int] = set()
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
            c = dict.fromkeys(STAGE_COUNTERS, 0.0)
            c["jobs"] = float(len(job_ids))
            for sid in stage_ids & stages.keys():
                st = stages[sid]
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"]
                c["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                c["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                c["executor_cpu_s"] += st["executorCpuTime"] / 1e9
                c["executor_run_s"] += st["executorRunTime"] / 1e3
                c["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                c["input_records"] += st["inputRecords"]
            sp.counters = c

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {"id": s.id, "name": s.name, "layer": s.layer, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6),
             "self_s": round(selfs[s.id], 6), "counters": s.counters}
            for s in self.spans
        ]
