"""Spans around the benchmark's calls into each layer, and Spark's own
counters for the jobs those calls submit.

A span records its layer name, the operation it belongs to, its parent
span, and its start and end on the monotonic clock. Entering a span that
may submit Spark jobs also tags the calling thread with the job group
``<op id>|<layer>`` (``SparkContext.setJobGroup``); Spark carries the tag
onto every job submitted under it, including broadcast and subquery jobs
run from its own threads. After each pass, outside the timed region,
``collect`` reads per-group job, stage and task counters from the public
status APIs (``statusTracker`` and ``statusStore().lastStageAttempt``), so
every job maps to the operation and layer that submitted it. Jobs that
carry no group are counted as unattributed.

Spans stay in memory; ``dump`` writes them as JSON once the run ends.
``NullTracer`` has the same interface and records nothing: the untraced
runs that measure end-to-end metrics use it. ``hook_s`` is the time the
tracer itself adds inside timed operations (entering and leaving spans,
tagging job groups), the measured cost of tracing.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict
from collections.abc import Iterator
from dataclasses import asdict, dataclass, field
from pathlib import Path

#: counters summed per job group; times in seconds, sizes in bytes
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    op: str | None
    parent: int | None
    group: str | None
    start: float = 0.0
    end: float = 0.0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = True) -> Iterator[None]:
        yield

    def plan_seconds(self, op: str, df) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc):
        self._sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._pending: list[Span] = []
        self._known_ungrouped: set[int] = set()
        self.unattributed_jobs = 0
        self.hook_s = 0.0
        #: op id → analysis + optimization + planning seconds of its result
        self.plan_s: dict[str, float] = {}

    def _set_group(self, group: str | None) -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, group)

    def begin(self) -> None:
        """Start attributing: jobs without a group submitted from now on
        count as unattributed at the next ``collect``."""
        self._known_ungrouped = set(self._sc.statusTracker().getJobIdsForGroup(None))

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, jobs: bool = True) -> Iterator[None]:
        t_enter = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        group = f"{op}|{name}" if jobs else None
        s = Span(len(self.spans), name, op, parent.id if parent else None, group)
        self.spans.append(s)
        self._stack.append(s)
        if group is not None:
            self._pending.append(s)
            self._set_group(group)
        s.start = time.perf_counter()
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if group is not None:
                outer = next((p.group for p in reversed(self._stack) if p.group), None)
                self._set_group(outer)
            self.hook_s += (s.start - t_enter) + (time.perf_counter() - s.end)

    def plan_seconds(self, op: str, df) -> None:
        """Catalyst's analysis + optimization + planning time for ``df``,
        read from its ``QueryExecution`` phase tracker."""
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0
        for phase in ("analysis", "optimization", "planning"):
            with contextlib.suppress(Exception):  # phase not run for this plan
                total += phases.apply(phase).durationMs()
        self.plan_s[op] = self.plan_s.get(op, 0.0) + total / 1000.0

    def collect(self) -> None:
        """Attach Spark counters to every span that owns a job group, and
        count the jobs submitted since the last call that carry no group."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = jsc.statusStore()
        for s in self._pending:
            c = dict.fromkeys(COUNTERS, 0.0)
            for job_id in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                c["jobs"] += 1
                for stage_id in info.stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # stage evicted or never attempted
                        continue
                    if st.status().toString() == "SKIPPED":
                        continue
                    c["stages"] += 1
                    c["tasks"] += st.numTasks()
                    c["executor_run_s"] += st.executorRunTime() / 1e3
                    c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            s.counters = c
        self._pending.clear()
        ungrouped = set(tracker.getJobIdsForGroup(None))
        self.unattributed_jobs += len(ungrouped - self._known_ungrouped)
        self._known_ungrouped |= ungrouped

    def totals(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """Per layer name: summed seconds, span count and Spark counters."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in spans:
            row = out[s.name]
            row["seconds"] += s.seconds
            row["count"] += 1
            for k, v in s.counters.items():
                row[k] += v
        return out

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        doc = dict(extra, spans=[asdict(s) for s in self.spans], plan_s=self.plan_s)
        path.write_text(json.dumps(doc))
