"""The pandas model behind the ``explain_costly_model`` workload.

It scores pairs with ``NativeCosineMatcher.predict_pandas`` — the same
scores as the JVM-side matcher, so explanations stay comparable across
workloads — but runs in Python workers through ``PandasPredictAdapter``
(``mapInPandas``), the path a real ER model takes. Two accumulators
count what the model did: rows scored (exact) and seconds spent inside
the model. This module must be importable by the Python workers; the
benchmark puts its directory on their ``PYTHONPATH``.
"""

from __future__ import annotations

import time

import pandas as pd

from certa_spark.matching import NativeCosineMatcher


class CountingModel:
    """Picklable pandas ``predict_fn`` with a rows and a seconds
    accumulator (both created on the driver)."""

    def __init__(self, rows_acc, secs_acc):
        self.rows = rows_acc
        self.secs = secs_acc
        self._matcher = NativeCosineMatcher()

    def __call__(self, pairs: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        out = self._matcher.predict_pandas(pairs)
        self.rows.add(len(pairs))
        self.secs.add(time.perf_counter() - t0)
        return out
