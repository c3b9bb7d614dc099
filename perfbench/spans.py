"""Spans and Spark counters, recorded from outside the program.

A span wraps one call into a layer's public function. Each span gets
its own Spark job group, so the jobs, stages and tasks it caused are
read back from `statusTracker()`; executor task time, GC time,
shuffle and input bytes are diffs of the status store's executor
summaries; Catalyst phase times come from a DataFrame's
`queryExecution().tracker()`. Spans are kept in memory and written out
as JSON lines when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path

EXECUTOR_FIELDS = {
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "shuffle_read_bytes": "totalShuffleRead",
    "shuffle_write_bytes": "totalShuffleWrite",
    "input_bytes": "totalInputBytes",
}


def drain(spark) -> None:
    """Wait until the listener bus has delivered every pending event,
    so the status store reflects all finished jobs."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def executor_totals(spark) -> dict[str, float]:
    """Summed executor counters (local mode: the single driver executor)."""
    drain(spark)
    execs = spark.sparkContext._jsc.sc().statusStore().executorList(True)
    totals = dict.fromkeys(EXECUTOR_FIELDS, 0.0)
    for i in range(execs.size()):
        e = execs.apply(i)
        for key, getter in EXECUTOR_FIELDS.items():
            totals[key] += float(getattr(e, getter)())
    return totals


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks completed) of one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for job_id in jobs:
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            stage = tracker.getStageInfo(stage_id)
            if stage and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
    return len(jobs), stages, tasks


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning wall ms of `df`'s last execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        summary = phases.get(name)
        out[name] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out


@dataclass
class Span:
    trace: str
    name: str
    start: float
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans for one benchmark run. Spans of one op share its
    `trace` id; each is one call into a layer, so they never nest."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._groups = 0

    @contextmanager
    def span(self, trace: str, name: str, **attrs):
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc.setJobGroup(group, name)
        rec = Span(trace, name, time.perf_counter(), 0.0, attrs=attrs)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            sc._jsc.clearJobGroup()
            drain(self.spark)
            rec.jobs, rec.stages, rec.tasks = job_counts(self.spark, group)
            self.spans.append(rec)

    def of(self, trace: str) -> list[Span]:
        return [s for s in self.spans if s.trace == trace]

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
