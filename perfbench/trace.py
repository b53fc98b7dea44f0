"""In-memory spans recorded around calls into the program's layers.

The benchmark wraps public entry points from its own files (module
attributes, ``Catalog`` methods, registry entries); nothing inside the
program changes. Each span records name, start, end, parent span, run id and
the phase of the workload it ran in (``day``, ``rerun``, ``dashboard`` ...).
When a SparkContext is attached, every span runs under its own Spark job
group, so the jobs and tasks that span launched itself are read back from
``statusTracker()`` when it ends (this works with the UI disabled).

A disabled tracer is a no-op: ``span`` yields without recording and ``wrap``
patches nothing, so untraced runs measure the program as shipped.
"""

from __future__ import annotations

import functools
import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    phase: str
    measured: bool  # inside the timed window, not set-up
    start: float
    end: float = 0.0
    jobs: int = 0  # launched by this span itself, not by its children
    tasks: int = 0


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover (overlapping
    children are merged, so concurrent children are not subtracted twice)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for c in sorted(children, key=lambda s: s.start):
        lo, hi = max(c.start, span.start), min(c.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (span.end - span.start) - covered


def _assign(owner: object, attr: str, value: object) -> None:
    if isinstance(owner, dict):
        owner[attr] = value
    else:
        setattr(owner, attr, value)


def _inclusive_counts(span: Span, kids: dict[int, list[Span]]) -> tuple[int, int]:
    """Jobs and tasks of a span and everything below it."""
    jobs, tasks = span.jobs, span.tasks
    for c in kids.get(span.id, ()):
        j, t = _inclusive_counts(c, kids)
        jobs += j
        tasks += t
    return jobs, tasks


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.phase = "setup"
        self.measured = False
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        """Count Spark jobs and tasks per span from now on."""
        if self.enabled:
            self._sc = spark_context

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.run_id, self.phase, self.measured, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        group = f"{self.run_id}-{s.id}"
        if self._sc is not None:
            self._sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                s.jobs, s.tasks = self._job_counts(group)
                if parent is not None:
                    self._sc.setJobGroup(f"{self.run_id}-{parent.id}", parent.name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)

    def _job_counts(self, group: str) -> tuple[int, int]:
        tracker = self._sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        tasks = 0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                stage = tracker.getStageInfo(sid)
                tasks += stage.numTasks if stage else 0
        return len(job_ids), tasks

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict, such as a
        query registry) with a traced wrapper until :meth:`restore`."""
        if not self.enabled:
            return
        fn = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn))
        _assign(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            _assign(owner, attr, fn)
        self._undo.clear()

    # --- aggregation -----------------------------------------------------

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def select(self, name: str, phase: str | None = None) -> list[Span]:
        """Measured spans called ``name`` (a trailing ``*`` matches a
        prefix), optionally only those of one phase."""
        if name.endswith("*"):
            match = lambda n: n.startswith(name[:-1])  # noqa: E731
        else:
            match = name.__eq__
        return [s for s in self.spans
                if s.measured and match(s.name)
                and (phase is None or s.phase == phase)]

    def median_s(self, name: str, phase: str | None = None) -> float:
        """Median duration of the selected spans (0 when there are none)."""
        ds = [s.end - s.start for s in self.select(name, phase)]
        return statistics.median(ds) if ds else 0.0

    def mean_counts(self, name: str, phase: str | None = None) -> tuple[float, float]:
        """Mean jobs and tasks per selected span, children included."""
        ss = self.select(name, phase)
        if not ss:
            return 0.0, 0.0
        kids = self.children()
        counts = [_inclusive_counts(s, kids) for s in ss]
        return (statistics.fmean(j for j, _ in counts),
                statistics.fmean(t for _, t in counts))

    def self_s(self, name: str) -> float:
        """Summed self time of the selected spans."""
        kids = self.children()
        return sum(self_time(s, kids.get(s.id, [])) for s in self.select(name))

    def write(self, path: str) -> None:
        """One JSON object per span, in start order."""
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
