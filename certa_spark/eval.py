"""Batch experiment driver (certa's eval.py:26-171 / generate.py
equivalents): explain many test instances, collect saliency/CF rows +
latency, compute metrics, write experiment sinks.

Instance-level parallelism: each explain() is a multi-job Spark
pipeline; independent instances submit jobs concurrently from a thread
pool (Spark's scheduler interleaves them; SURVEY.md §3.3). The
num_triangles escalation policy (generate.py:102-116) is the per-
instance retry loop.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from certa_spark.explainer import CertaExplainer, Explanation
from certa_spark.matching import Matcher


def explain_instance(
    explainer: CertaExplainer,
    l_rec: dict,
    r_rec: dict,
    matcher: Matcher,
    num_triangles: int = 10,
    escalate_to: int = 0,
    escalate_step: int = 50,
    **kwargs,
) -> tuple[Explanation, float, int]:
    """One instance with the generate.py escalation policy: retry with
    +``escalate_step`` triangles while the explanation is empty, up to
    ``escalate_to``. Returns (explanation, latency_s, used_triangles)."""
    t0 = time.time()
    budget = num_triangles
    while True:
        res = explainer.explain(
            l_rec, r_rec, matcher, num_triangles=budget, **kwargs
        )
        if len(res.triangles) > 0 or budget >= max(escalate_to, num_triangles):
            return res, time.time() - t0, budget
        budget = min(budget + escalate_step, max(escalate_to, num_triangles))


def evaluate(
    spark: SparkSession,
    explainer: CertaExplainer,
    instances: list[tuple[dict, dict]],
    matcher: Matcher,
    num_triangles: int = 10,
    parallelism: int = 2,
    **kwargs,
) -> pd.DataFrame:
    """Explain every (l_rec, r_rec) instance; returns one row per
    instance: saliency values + latency + n_triangles (the reference's
    certa.csv shape, eval.py:99-105). The pool's threads run in the
    caller's job group and with its tags."""

    @inheritable_thread_target(spark)
    def one(idx_pair):
        idx, (l_rec, r_rec) = idx_pair
        res, latency, used = explain_instance(
            explainer, l_rec, r_rec, matcher, num_triangles, **kwargs
        )
        row = {"instance": idx, "latency": latency, "n_triangles": len(res.triangles)}
        row.update(res.saliency_dict)
        return row

    if parallelism > 1:
        with ThreadPoolExecutor(max_workers=parallelism) as pool:
            rows = list(pool.map(one, enumerate(instances)))
    else:
        rows = [one(x) for x in enumerate(instances)]
    return pd.DataFrame(rows)
