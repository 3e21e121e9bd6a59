"""Spans around the program's public entry points, measured from outside.

A `Tracer` times calls into the layers by wrapping public functions with
shims (`wrap`) or by timing a block (`span`).  Spans that ask for jobs run
under their own Spark job group, so the jobs each call launched are read
back from the status tracker; a span's jobs include those of the spans
nested inside it.  Stage-level counts (tasks, shuffle bytes) are read from
Spark's status store at the end of the run, after its listener bus has
drained.

`ProgressLog` is the `StreamingQueryListener` that keeps every streaming
progress event (the `durationMs` phases and state-operator rows per
micro-batch), which is how Structured Streaming reports itself.
"""

from __future__ import annotations

import itertools
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    seconds: float
    groups: list[str] = field(default_factory=list)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: dict[str, list[Span]] = defaultdict(list)
        self._seq = itertools.count()
        self._stack: list[list[str]] = []
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        """Time the block; with jobs=True run it under a fresh job group.
        Only for the calling client thread: job groups are thread-local."""
        groups: list[str] = []
        prev = None
        if jobs:
            group = f"perfbench-{next(self._seq)}"
            groups.append(group)
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, group)
            self._stack.append(groups)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            seconds = time.perf_counter() - t0
            if jobs:
                self._stack.pop()
                self.sc.setLocalProperty(_GROUP, prev)
                if self._stack:
                    self._stack[-1].extend(groups)
            self.spans[name].append(Span(name, seconds, groups))

    def wrap(self, owner, attr: str, name: str, jobs: bool = True, after=None) -> None:
        """Replace owner.attr by a shim that records a span per call;
        `after(result, args, kwargs)` runs outside the timed part."""
        original = getattr(owner, attr)
        tracer = self

        def shim(*args, **kwargs):
            with tracer.span(name, jobs=jobs):
                result = original(*args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        shim.__wrapped__ = original
        setattr(owner, attr, shim)
        self._undo.append((owner, attr, original))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    # --- reading the counts back ------------------------------------------

    def job_ids(self, span: Span) -> list[int]:
        tracker = self.sc.statusTracker()
        return [j for g in span.groups for j in tracker.getJobIdsForGroup(g)]

    def drain(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store holds final stage metrics."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def stage_totals(self, job_ids: list[int]) -> tuple[int, int]:
        """(tasks, shuffle bytes written) over the jobs' stages."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        tasks = shuffle = 0
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                try:
                    stage = store.lastStageAttempt(s)
                except Exception:  # stage never ran (skipped) or was evicted
                    continue
                tasks += stage.numCompleteTasks()
                shuffle += stage.shuffleWriteBytes()
        return tasks, shuffle

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans.get(name, [])]


@dataclass
class Progress:
    query: str
    batch_id: int
    input_rows: int
    duration_ms: dict
    state_rows: int


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event, in arrival order."""

    def __init__(self):
        super().__init__()
        self.events: list[Progress] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.events.append(
            Progress(
                query=p.name,
                batch_id=p.batchId,
                input_rows=p.numInputRows or 0,
                duration_ms=dict(p.durationMs or {}),
                state_rows=sum(op.numRowsTotal or 0 for op in (p.stateOperators or [])),
            )
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def batches(self, query: str, since: int = 0) -> list[Progress]:
        """Data batches of one query among events[since:]."""
        return [e for e in self.events[since:] if e.query == query and e.input_rows > 0]
