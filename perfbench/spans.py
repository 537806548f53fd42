"""Spans around calls into certa_spark layers, plus Spark job accounting.

``Tracer.wrap`` replaces a module or class attribute with a wrapper that,
while tracing is enabled, records a span ``(layer, start, end)`` and sets
a unique Spark job group on the calling thread for the span's duration.
The jobs each span launched are later read back from the driver's
in-process status store (``statusStore``) by job group, so every job is
attributed to the innermost span that was open on its thread. Spans stay
in memory until the run reports them.

Two facts the wrappers rely on:

* Spark job groups are thread-local. ``explain_batch`` runs its chunks
  and per-instance phases on its own threads, so a layer called there is
  grouped by its own wrapper on that thread; jobs those threads launch
  outside any wrapped call land in no group ("unattributed").
* ``certa_spark.explainer`` binds ``support_predictions`` by name, so it
  is wrapped on the explainer module, not on ``operators.support``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"
PREFIX = "pb:"


def union(intervals):
    """Merge (start, end) intervals into a sorted disjoint list."""
    out: list[list[float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in intervals)


def minus(base, cut) -> float:
    """Length of ``union(base)`` not covered by ``union(cut)``."""
    total = 0.0
    cut = union(cut)
    for a, b in union(base):
        covered = 0.0
        for c, d in cut:
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                covered += hi - lo
        total += (b - a) - covered
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[tuple[str, float, float]] = []
        self.groups: dict[str, str] = {}  # job group -> layer
        self.counts: dict[str, int] = {}
        self._ids = itertools.count()
        self._lock = threading.Lock()

    def wrap(self, owner, attr: str, layer: str | None, count=None) -> None:
        """Trace ``owner.attr`` as a span of ``layer`` (no span when
        ``layer`` is None); ``count = (name, fn)`` adds ``fn(result)`` to
        the counter ``name``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            if layer is None:
                out = orig(*args, **kwargs)
            else:
                with tracer.span(layer):
                    out = orig(*args, **kwargs)
            if count is not None:
                tracer.add(count[0], count[1](out))
            return out

        setattr(owner, attr, wrapper)

    def add(self, name: str, n: int) -> None:
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + n

    @contextmanager
    def span(self, layer: str):
        if not self.enabled:
            yield
            return
        group = f"{PREFIX}{layer}:{next(self._ids)}"
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, group)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.groups[group] = layer
                self.spans.append((layer, t0, t1))

    def intervals(self, layer: str):
        return [(a, b) for name, a, b in self.spans if name == layer]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt(option):
    return option.get() if option.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job in the status store with its group, interval and the
    stage metrics of the stages it ran. A stage listed by several jobs
    (a reused shuffle) is counted once, for the lowest job id."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    jobs = []
    for jd in _seq(store.jobsList(None)):
        done = _opt(jd.completionTime())
        jobs.append({
            "id": jd.jobId(),
            "group": _opt(jd.jobGroup()),
            "start": _opt(jd.submissionTime()).getTime() / 1000.0,
            "end": done.getTime() / 1000.0 if done is not None else None,
            "stages": [int(s) for s in _seq(jd.stageIds())],
        })
    jobs.sort(key=lambda j: j["id"])
    seen: set[int] = set()
    for job in jobs:
        job.update(tasks=0, executor_run_s=0.0, records_read=0, shuffle_bytes=0)
        for sid in job.pop("stages"):
            if sid in seen:
                continue
            seen.add(sid)
            for st in _seq(store.stageData(
                sid, False, jvm.java.util.ArrayList(), False, no_quantiles
            )):
                if str(st.status()) == "SKIPPED":
                    continue
                job["tasks"] += st.numTasks()
                job["executor_run_s"] += st.executorRunTime() / 1000.0
                job["records_read"] += st.inputRecords() + st.shuffleReadRecords()
                job["shuffle_bytes"] += st.shuffleWriteBytes()
    return jobs
