"""The benchmark's ledger: spans recorded around calls into the engine's
layers, plus child spans and counters harvested from Spark after each call.

Spans live in memory and are written once, when the run ends. A span has a
name, the layer it measures, start and end (epoch seconds), its parent's id,
the run id, and counters. With tracing off, ``Tracer.span`` records nothing
and the Spark harvest is never called, so the untraced run pays only a
context-manager entry per call.

The Spark side reads two sources that both work with ``spark.ui.enabled``
off: ``SparkContext.statusTracker()`` for the jobs of a job group, and the
JVM status store (``statusStore().lastStageAttempt``/``taskList``) for each
completed stage's executor time, bytes and task durations. A streaming
query's jobs run under its ``runId`` as the job group.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "sources", "functions", "operators", "streaming", "sinks")

STAGE_COUNTERS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes every method a
    no-op, which is how the end-to-end runs measure with tracing off."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Time the body as one span; yields the span (None when off) so the
        caller can attach counters or children after the call returns."""
        if not self.enabled:
            yield None
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        sp = Span(next(self._ids), name, layer, time.time(), 0.0,
                  self._stack[-1] if self._stack else None, self.run_id)
        self._stack.append(sp.id)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()
            self.spans.append(sp)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: Span, **counters) -> Span:
        """Record a child span measured elsewhere (a Spark job, a batch)."""
        sp = Span(next(self._ids), name, layer, start, end, parent.id,
                  self.run_id, dict(counters))
        self.spans.append(sp)
        return sp

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> float:
        """The span's duration minus the part its children cover."""
        kids = [(c.start, c.end) for c in self.children(sp)]
        return sp.duration - covered(kids, sp.start, sp.end)

    def layer_self_times(self) -> dict[str, float]:
        out = dict.fromkeys(LAYERS, 0.0)
        for sp in self.spans:
            if sp.name.startswith("spark.") or sp.name.startswith("batch."):
                continue  # harvested children carry no layer time of their own
            out[sp.layer] += self.self_time(sp)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: (s.start, s.id)):
                fh.write(json.dumps(asdict(sp)) + "\n")


class SparkLedger:
    """Reads jobs, stages and tasks for a job group back from Spark."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()

    def set_group(self, group: str) -> None:
        # PySpark has no clearJobGroup: every call site sets its own group
        self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def jobs_between(self, start: float, end: float) -> list[int]:
        """Jobs submitted within [start, end] (epoch seconds), whatever their
        group: for phases whose calls set no group of their own."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            jd = jobs.apply(i)
            sub = jd.submissionTime()
            if sub.isDefined() and start <= sub.get().getTime() / 1e3 <= end:
                out.append(jd.jobId())
        return sorted(out)

    def _stage(self, sid: int):
        sd = self.store.lastStageAttempt(sid)
        return sd if sd.status().toString() == "COMPLETE" else None

    def stage_counters(self, sd) -> dict:
        return {
            "stages": 1,
            "tasks": sd.numCompleteTasks(),
            "executor_run_s": sd.executorRunTime() / 1e3,
            "executor_cpu_s": sd.executorCpuTime() / 1e9,
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
        }

    def task_durations(self, sd) -> list[float]:
        tl = self.store.taskList(sd.stageId(), sd.attemptId(), 100_000)
        out = []
        for i in range(tl.size()):
            d = tl.apply(i).duration()
            if d.isDefined():
                out.append(d.get() / 1e3)
        return out

    def harvest(self, tracer: Tracer, parent: Span, jobs: list[int],
                tasks: bool = False) -> dict:
        """Add one child span per Spark job under ``parent`` and return the
        summed stage counters (plus ``jobs``, and ``task_s`` durations when
        ``tasks``)."""
        total = dict.fromkeys(STAGE_COUNTERS, 0)
        total["jobs"] = len(jobs)
        task_s: list[float] = []
        for jid in jobs:
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            counters = dict.fromkeys(STAGE_COUNTERS, 0)
            ids = jd.stageIds()
            for sid in (ids.apply(i) for i in range(ids.size())):
                sd = self._stage(sid)
                if sd is None:
                    continue  # skipped: its shuffle output was reused
                for k, v in self.stage_counters(sd).items():
                    counters[k] += v
                if tasks:
                    task_s.extend(self.task_durations(sd))
            for k, v in counters.items():
                total[k] += v
            if sub.isDefined() and done.isDefined():
                tracer.add("spark.job", parent.layer, sub.get().getTime() / 1e3,
                           done.get().getTime() / 1e3, parent, job=jid, **counters)
        if tasks:
            total["task_s"] = task_s
        return total


def progress_splits(progress: list[dict]) -> list[dict]:
    """Per micro-batch split from ``StreamingQueryProgress`` dicts:
    durationMs parts, input rows, and state-operator rows/bytes/commit time."""
    out = []
    for p in progress:
        d = p.get("durationMs", {})
        ops = p.get("stateOperators", [])
        out.append(
            {
                "batch_id": p.get("batchId"),
                "timestamp": p.get("timestamp"),
                "rows": p.get("numInputRows", 0),
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "query_planning_ms": d.get("queryPlanning", 0),
                "latest_offset_ms": d.get("latestOffset", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "commit_offsets_ms": d.get("commitOffsets", 0),
                "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
            }
        )
    return out
