"""In-memory span recorder plus Spark job/stage accounting.

A span has a name, start and end (``perf_counter`` seconds), a parent and
the run id.  Spans stay in memory until the run ends, when the caller
writes them out.  Each span runs under its own Spark job group and records
the half-open range of job ids started while it was open, so job, stage,
task, shuffle and spill totals can be read back per span from the status
tracker and the application status store (both work with the UI off).
Job ids are taken as a range rather than by group so that jobs started on
other threads -- streaming micro-batches -- are counted too.

Patching helpers wrap the program's public functions and Spark actions for
the duration of one traced call and restore them afterwards; the program's
files are never edited.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass

_MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)  # [first, last) job id started inside

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class JobTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    input_mb: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, other: "JobTotals") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    """Records spans for one run.  With ``enabled=False`` every method is a
    cheap no-op, so untraced and traced calls share one code path."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the current SparkContext (call after every set-up)."""
        self._sc = spark.sparkContext

    def _next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        group = f"perfbench/{self.run_id}/{s.id}/{name}"
        self._sc.setJobGroup(group, name)
        first = self._next_job_id()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = (first, self._next_job_id())
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(
                    f"perfbench/{self.run_id}/{parent.id}/{parent.name}",
                    parent.name,
                )
            else:
                self._sc._jsc.clearJobGroup()

    # ------------------------------------------------------------ accounting

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the streaming listener are complete."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_totals(self, span: Span) -> JobTotals:
        """Jobs, stages that ran, tasks and stage metrics of ``span``."""
        tracker = self._sc.statusTracker()
        store = self._sc._jsc.sc().statusStore()
        out = JobTotals()
        stage_ids: set[int] = set()
        for jid in range(*span.jobs):
            info = tracker.getJobInfo(jid)
            if info is None:  # evicted from the store, or never ran
                continue
            out.jobs += 1
            stage_ids.update(info.stageIds)
        for sid in sorted(stage_ids):
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += stage.numCompleteTasks()
            out.task_s += stage.executorRunTime() / 1000.0
            out.input_mb += stage.inputBytes() / _MB
            out.shuffle_mb += (stage.shuffleReadBytes() + stage.shuffleWriteBytes()) / _MB
            out.spill_mb += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / _MB
        return out

    # ------------------------------------------------------------ analysis

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered, cursor = 0.0, span.start
        for c in sorted(self.children(span), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        return span.dur - covered

    def layer_self_s(self, layer: str, within: list[Span]) -> float:
        """Summed self time of the spans in ``within`` named ``layer.*``."""
        return sum(self.self_time(s) for s in within if s.name.split(".")[0] == layer)

    def descendants(self, root: Span) -> list[Span]:
        out, frontier = [], [root.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [s.id for s in kids]
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent,
                "run_id": s.run_id, "start": s.start, "end": s.end,
                "jobs": list(s.jobs),
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------- patching


@contextlib.contextmanager
def patched(owner, attr: str, make_wrapper):
    """Replace ``owner.attr`` with ``make_wrapper(original)`` for the block."""
    original = getattr(owner, attr)
    setattr(owner, attr, make_wrapper(original))
    try:
        yield
    finally:
        setattr(owner, attr, original)


def spanned(tracer: Tracer, name_of):
    """Wrapper factory: run the wrapped callable inside a span whose name is
    ``name_of(*args, **kwargs)`` (a constant name when ``name_of`` is a
    string).  A name of ``None`` runs the call without a span."""

    def make(original):
        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            name = name_of if isinstance(name_of, str) else name_of(*args, **kwargs)
            if name is None:
                return original(*args, **kwargs)
            with tracer.span(name):
                return original(*args, **kwargs)

        return wrapper

    return make
