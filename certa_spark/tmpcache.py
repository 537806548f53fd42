"""Scoped lifecycle for short-lived SQL caches in the explain path.

An explain() whose DA fallback runs caches the token-drop copies of
its probes: the augmentation scan and the member lookup both read
them. The explanation returned is pure driver-side data, but
``DataFrame.cache()`` entries live in
Spark's CacheManager until explicitly unpersisted — and every
subsequent query planning pass consults the CacheManager against each
registered plan. A long-lived explainer session therefore slows down
monotonically as dead cache entries pile up (measured: batch-16
explain throughput fell 47 -> 26 explains/min over three consecutive
batches before this module existed).

``track(df)`` registers a frame with the innermost active ``scope()``
on the CURRENT thread; leaving the scope unpersists every tracked
frame (non-blocking, reverse order). Outside any scope ``track`` is a
no-op — so process-lifetime caches (the explainer's source tables) are
naturally exempt by never being created inside a scope. Thread-local
storage makes concurrent explains (eval.evaluate thread pool,
explain_batch chunk workers) each own exactly their frames.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_tl = threading.local()


def track(df: DataFrame) -> DataFrame:
    """Register ``df`` for unpersist at the end of the innermost
    active scope on this thread (no-op outside a scope)."""
    frames = getattr(_tl, "frames", None)
    if frames is not None:
        frames.append(df)
    return df


@contextmanager
def scope():
    """Context manager: frames ``track``-ed inside are unpersisted on
    exit. Nestable — inner scopes release only their own frames."""
    prev = getattr(_tl, "frames", None)
    _tl.frames = []
    try:
        yield
    finally:
        frames, _tl.frames = _tl.frames, prev
        for df in reversed(frames):
            try:
                df.unpersist(False)
            except Exception:  # noqa: BLE001 — session may be stopping
                pass
