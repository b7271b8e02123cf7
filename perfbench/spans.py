"""Spans around calls into the engine's layers, with Spark's own counters.

A span records name, layer, start, end, parent span and run id, and tags
every Spark job started inside it with a job group of its own.  Spans stay
in memory; ``finish`` reads each group's jobs back from Spark's status
store (job and stage data; kept with the web UI disabled), giving per span:
jobs, stages, tasks, failed tasks, executor run and CPU time, shuffle
write, spill, and ``plan_s`` (call start to first job submitted).

Self time of a span is its duration minus the time its child spans cover.
For a span that ran Spark jobs, the part of its self time during which
none of its jobs was running is driver-side planning and scheduling; it
is charged to the ``session`` layer instead, so the layers' busy times
add up to the traced wall time.
"""
from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# counters summed per layer from the status store
COUNTERS = ("jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
            "shuffle_write_mb", "spill_mb", "plan_s")


@dataclass
class Span:
    name: str
    layer: str | None
    start: float
    parent: int | None
    run_id: str
    group: str
    end: float = 0.0
    children_s: float = 0.0
    idle_s: float = 0.0  # no job of the span running (driver side)
    stages: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0.0))

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        group = f"{self.run_id}:{idx}:{name}"
        sp = Span(name, layer, time.time(), parent, self.run_id, group)
        self.spans.append(sp)
        self._stack.append(idx)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].children_s += sp.duration
                self.sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def finish(self) -> float:
        """Read every span's counters from the status store, after the
        traced work, so the reads do not fall inside any span.  Returns
        the seconds the reads took."""
        t0 = time.perf_counter()
        for sp in self.spans:
            self._collect(sp)
        return time.perf_counter() - t0

    def _collect(self, sp: Span) -> None:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(sp.group))
        intervals = []
        c = sp.counters
        for jid in job_ids:
            job = self.store.job(jid)
            submit = job.submissionTime()
            done = job.completionTime()
            if submit.isDefined():
                s = submit.get().getTime() / 1000.0
                e = done.get().getTime() / 1000.0 if done.isDefined() else sp.end
                intervals.append((max(s, sp.start), min(e, sp.end)))
            c["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                self._add_stage(sp, stage_ids.apply(k))
        if intervals:
            c["plan_s"] = max(0.0, min(s for s, _ in intervals) - sp.start)
            sp.idle_s = max(0.0, sp.duration - sp.children_s - _covered(intervals))

    def _add_stage(self, sp: Span, stage_id: int) -> None:
        c = sp.counters
        attempts = self.store.stageData(stage_id, False, None, False, None)
        for a in range(attempts.size()):
            sd = attempts.apply(a)
            if str(sd.status()) == "SKIPPED":
                continue
            sp.stages += 1
            c["tasks"] += sd.numTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
            c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6

    def layer_metrics(self, layers: list[str]) -> dict[str, float]:
        """``<layer>.busy_s`` and the counters, summed over the spans of each
        layer; driver-side idle time goes to ``session.busy_s``."""
        out = {f"{layer}.{k}": 0.0 for layer in layers for k in ("busy_s",) + COUNTERS}
        out["session.busy_s"] = 0.0
        for sp in self.spans:
            if sp.layer is None:
                continue
            self_s = sp.duration - sp.children_s
            out[f"{sp.layer}.busy_s"] = out.get(f"{sp.layer}.busy_s", 0.0) + self_s - sp.idle_s
            out["session.busy_s"] += sp.idle_s
            for k, v in sp.counters.items():
                out[f"{sp.layer}.{k}"] = out.get(f"{sp.layer}.{k}", 0.0) + v
        return out

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "layer": s.layer, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "jobs": int(s.counters["jobs"]),
             "stages": s.stages}
            for s in self.spans
        ]


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
