"""In-memory spans around calls into the crawler's layers.

A span is (id, name, trace, parent, start, end). ``trace`` is the crawl
round in flight when the span opened; ``parent`` is the innermost span
still open on the same thread. Opening a span also sets the thread's
Spark job group to the span id, so every Spark job a call launches can be
charged to the innermost open span afterwards (``spark_jobs``).
Spans stay in memory; ``dump`` writes them out once, at the end.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

from .stats import clip, interval_union

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    trace: int
    parent: int | None
    phase: str
    start: float
    end: float | None = None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def self_time(span: Span, spans) -> float:
    """Span duration minus the part of it that child spans cover."""
    kids = clip([(c.start, c.end) for c in spans
                 if c.parent == span.id and c.end is not None],
                span.start, span.end)
    return span.duration - interval_union(kids)


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc                # SparkContext, or None: no job groups
        self.spans: list[Span] = []
        self.trace = -1
        self.phase = "setup"
        self.overhead_s = 0.0       # time spent in this class's bookkeeping
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_group(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.jobGroup.id",
                None if span is None else f"{GROUP_PREFIX}{span.id}")

    def open(self, name: str) -> Span:
        t0 = time.perf_counter()
        st = self._stack()
        sp = Span(next(self._ids), name, self.trace,
                  st[-1].id if st else None, self.phase, 0.0)
        st.append(sp)
        self._set_group(sp)
        with self._lock:
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t0
        sp.start = time.time()
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        t0 = time.perf_counter()
        st = self._stack()
        if sp in st:
            st.remove(sp)
        self._set_group(st[-1] if st else None)
        with self._lock:
            self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self.open(name)
        try:
            yield sp
        finally:
            self.close(sp)

    def patch(self, owner, attr: str, name=None, before=None, after=None):
        """Replace ``owner.attr`` by a wrapper that runs the original inside
        a span. ``name`` is a string or a function of the call's arguments;
        ``before(args)`` runs ahead of the span, ``after(result)`` once the
        span has closed."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(args)
            label = name(args, kwargs) if callable(name) else name
            sp = tracer.open(label)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.close(sp)
            if after is not None:
                after(out, args)
            return out

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, fh)


def timed_fetcher(inner, acc):
    """Wrap a mapInPandas fetcher so the seconds spent inside it (the
    simulated remote servers) accumulate into the Spark accumulator
    ``acc``. Runs in the Python workers."""

    def fetch(batches):
        import time as _time

        it = inner(batches)
        while True:
            t = _time.perf_counter()
            try:
                out = next(it)
            except StopIteration:
                return
            acc.add(_time.perf_counter() - t)
            yield out

    return fetch


def spark_jobs(sc) -> tuple[list[dict], dict[int, dict]]:
    """All jobs and stages the status store holds: jobs as
    {id, group, submit, end, stages}, times in epoch seconds; stages as
    {task_s, shuffle_bytes} keyed by stage id."""
    store = sc._jsc.sc().statusStore()
    jobs = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        grp, sub, comp = j.jobGroup(), j.submissionTime(), j.completionTime()
        ids = j.stageIds()
        jobs.append({
            "id": j.jobId(),
            "group": grp.get() if grp.isDefined() else None,
            "submit": sub.get().getTime() / 1000.0 if sub.isDefined()
            else None,
            "end": comp.get().getTime() / 1000.0 if comp.isDefined()
            else None,
            "stages": [ids.apply(i) for i in range(ids.length())],
        })
    jvm = sc._jvm
    stages: dict[int, dict] = {}
    it = store.stageList(None, False, False,
                         sc._gateway.new_array(jvm.double, 0),
                         jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        s = it.next()
        d = stages.setdefault(s.stageId(), {"task_s": 0.0,
                                            "shuffle_bytes": 0})
        d["task_s"] += s.executorRunTime() / 1000.0
        d["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
    return jobs, stages


def job_cost(jobs, stages) -> dict[str, dict]:
    """Task seconds and shuffle bytes per job group. A stage listed by
    several jobs is charged once, to the first job that lists it."""
    owner: dict[int, dict] = {}
    for j in sorted(jobs, key=lambda j: j["id"]):
        for sid in j["stages"]:
            owner.setdefault(sid, j)
    out: dict[str, dict] = {}
    for sid, j in owner.items():
        st = stages.get(sid)
        if st is None or j["group"] is None:
            continue
        d = out.setdefault(j["group"], {"task_s": 0.0, "shuffle_bytes": 0})
        d["task_s"] += st["task_s"]
        d["shuffle_bytes"] += st["shuffle_bytes"]
    return out
