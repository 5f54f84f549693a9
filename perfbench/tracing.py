"""In-memory spans around the benchmark's calls into each engine layer.

A span is opened by the benchmark around one call into a public function
(``<layer>.<function>``). With tracing on, each span runs under its own
Spark job group, and on exit its jobs' stage metrics are read from the
driver's status store (``statusTracker().getJobInfo(j).stageIds`` ->
``statusStore().lastStageAttempt(sid)``), which works with the UI off.
Jobs that engine-internal threads submit carry no job group; they are
attributed to the innermost open span, which is sound because the
benchmark itself is single-threaded. Spans stay in memory and are written
out once, after the run.

With tracing off, :meth:`Tracer.span` only yields: no job group, no
status-store reads, no timestamps.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from perfbench.stats import uncovered_within

#: stage-metric fields summed over a span's jobs
STAGE_FIELDS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    op_id: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    job_intervals: list[tuple[float, float]] = field(default_factory=list)
    stage: dict[str, float] = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._seen_ungrouped: set[int] = set()
        self.op_id: int | None = None

    def attach(self, spark) -> None:
        """Bind the Spark context whose jobs spans read."""
        self._sc = spark.sparkContext

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None and self._sc is not None:
            # ungrouped jobs that ran before this top-level span (untraced
            # rounds, output checks) belong to no span
            self._sc._jsc.sc().listenerBus().waitUntilEmpty()
            self._seen_ungrouped = set(self._ungrouped_jobs())
        sp = Span(
            name=name,
            span_id=len(self.spans),
            parent=parent.span_id if parent else None,
            op_id=self.op_id,
            start=time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"perfbench-{sp.span_id}"
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                self._collect(sp, group)
                if parent is not None:
                    self._sc.setJobGroup(f"perfbench-{parent.span_id}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)

    # -- status store -----------------------------------------------------

    def _ungrouped_jobs(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def _collect(self, sp: Span, group: str) -> None:
        jsc = self._sc._jsc.sc()
        # the status store is fed by the asynchronous listener bus
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(group))
        fresh = set(self._ungrouped_jobs()) - self._seen_ungrouped
        self._seen_ungrouped |= fresh
        jobs |= fresh
        store = jsc.statusStore()
        totals = dict.fromkeys(STAGE_FIELDS, 0.0)
        intervals = []
        for j in sorted(jobs):
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            data = store.job(j)
            sub, done = data.submissionTime(), data.completionTime()
            if sub.isDefined():
                end = done.get().getTime() if done.isDefined() else sp.end * 1e3
                intervals.append((sub.get().getTime() / 1e3, end / 1e3))
            for sid in info.stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage skipped before it was registered
                    continue
                totals["executor_run_s"] += st.executorRunTime() / 1e3
                totals["executor_cpu_s"] += st.executorCpuTime() / 1e9
                totals["shuffle_bytes"] += (
                    st.shuffleReadBytes() + st.shuffleWriteBytes()
                )
                totals["spill_bytes"] += (
                    st.diskBytesSpilled() + st.memoryBytesSpilled()
                )
        # a parent span's group never sees its children's jobs: each span
        # folds its own jobs into every open ancestor
        for target in (sp, *self._stack):
            target.jobs.extend(sorted(jobs))
            target.job_intervals.extend(intervals)
            for k, v in totals.items():
                target.stage[k] = target.stage.get(k, 0.0) + v

    # -- derived views ----------------------------------------------------

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.span_id]

    def self_s(self, sp: Span) -> float:
        """Span time not covered by its child spans."""
        return uncovered_within(
            (sp.start, sp.end), [(c.start, c.end) for c in self.children(sp)]
        )

    def driver_s(self, sp: Span) -> float:
        """Span time not covered by any of its Spark jobs' submit->complete
        intervals: plan construction, py4j and metadata I/O."""
        return uncovered_within((sp.start, sp.end), sp.job_intervals)

    def dump(self, path: str) -> None:
        """Write every span as one JSON line."""
        with open(path, "w") as f:
            for sp in self.spans:
                rec = {
                    "name": sp.name,
                    "span_id": sp.span_id,
                    "parent": sp.parent,
                    "op_id": sp.op_id,
                    "start": sp.start,
                    "end": sp.end,
                    "self_s": self.self_s(sp),
                    "driver_s": self.driver_s(sp),
                    "jobs": len(sp.jobs),
                    **sp.stage,
                }
                f.write(json.dumps(rec) + "\n")
