"""In-memory spans plus Spark stage-metric deltas for the traced run.

A span has a name, start, end, parent and op id. Each span runs under
its own Spark job group; when it closes, the stages of the jobs in that
group are read from the application status store (``stageData`` per
stage id), so every span carries the execution counters of the work it
caused itself, excluding child spans. Reading per span keeps the reads
below ``spark.ui.retainedStages``: a single read at the end of a long
run would find the early stages already evicted.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# StageData fields summed per span, with the scale that turns each into
# the unit reported (run and GC times are ms, CPU time is ns)
STAGE_FIELDS = {
    "tasks": ("numTasks", 1),
    "tasks_failed": ("numFailedTasks", 1),
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
}


def empty_counters() -> dict[str, float]:
    return {"jobs": 0, "stages": 0, **{k: 0 for k in STAGE_FIELDS}}


def add_stage(counters: dict[str, float], stage) -> None:
    """Fold one StageData-like object into ``counters``; a skipped stage
    (its shuffle output reused) ran nothing and adds nothing."""
    if str(stage.status()) == "SKIPPED":
        return
    counters["stages"] += 1
    for key, (attr, scale) in STAGE_FIELDS.items():
        counters[key] += getattr(stage, attr)() * scale


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    sid: int
    start: float
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=empty_counters)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class StageReader:
    """Reads the stage metrics of a job group from the status store."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        jsc = sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        gw = sc._gateway
        self.no_statuses = gw.jvm.java.util.ArrayList()
        self.no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group_counters(self, group: str) -> dict[str, float]:
        # status events are delivered asynchronously: drain the bus so the
        # stages of the jobs that just returned are complete in the store
        self.bus.waitUntilEmpty()
        out = empty_counters()
        for job_id in self.tracker.getJobIdsForGroup(group):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                attempts = self.store.stageData(
                    stage_id, False, self.no_statuses, False, self.no_quantiles)
                it = attempts.iterator()
                while it.hasNext():
                    add_stage(out, it.next())
        return out


class Tracer:
    """Collects spans in memory; ``on`` switches recording per op."""

    def __init__(self, sc=None):
        """``sc`` may be None for a run that never switches tracing on."""
        self.sc = sc
        self.reader = StageReader(sc) if sc is not None else None
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.on = False
        self.op = -1

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = Span(name, self.op, parent.sid if parent else None, len(self.spans),
                 time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        group = f"span-{s.sid}"
        self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            s.counters = self.reader.group_counters(group)
            if parent is not None:
                self.sc.setJobGroup(f"span-{parent.sid}", parent.name)
            else:
                self.sc._jsc.clearJobGroup()

    def wrap(self, name: str, fn):
        """``fn`` timed under a span of ``name`` while tracing is on."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        out, frontier = [root], {root.sid}
        for s in self.spans[root.sid + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.sid)
        return out

    def totals(self, spans: list[Span]) -> dict[str, float]:
        out = empty_counters()
        for s in spans:
            for k, v in s.counters.items():
                out[k] += v
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "op": s.op, "sid": s.sid, "parent": s.parent,
                    "start": s.start, "end": s.end, **s.counters}) + "\n")
