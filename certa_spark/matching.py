"""ER model boundary — the reference's central black-box UDF (UD1).

Contract (certa/models/ermodel.py:1-26, certa/local_explain.py:14):
``predict(pairs)`` returns the same rows plus ``nomatch_score`` /
``match_score`` double columns that sum to 1.

Two implementations:

  * :class:`NativeCosineMatcher` — the deterministic matcher from
    FIXTURES.md §2 expressed as pure Column expressions (bag-of-words
    cosine over all non-id attributes, threshold 0.5). Stays inside
    whole-stage codegen — no Python in the hot path; this is the
    matcher used for tests, oracles and 100TB scale runs.

  * :class:`PandasPredictAdapter` — compatibility path for arbitrary
    pandas ``predict_fn`` models (DeepMatcher/BERT/Ditto wrappers,
    certa/models/dm.py:275-290, certa/models/bert.py). Runs the model
    inside ``mapInPandas`` with Arrow batching; the model object must be
    picklable or constructed per-executor via a zero-arg factory.
"""

from __future__ import annotations

import functools
from typing import Callable, Protocol

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from certa_spark.functions.text import bow_cosine_of
from certa_spark.schema import LPREFIX, RPREFIX, side_attributes

SCORE_COLS = ("nomatch_score", "match_score")


class Matcher(Protocol):
    def predict(self, pairs: DataFrame) -> DataFrame: ...

    # cheap=True lets the triangle engine fuse all perturbation depths
    # into ONE predict round (it may evaluate perturbations the
    # reference's early-exit would skip — free for JVM-side matchers,
    # wasteful for real model inference).
    cheap: bool


@functools.lru_cache(maxsize=8)
def _nomatch_score(gateway) -> Column:
    """``1 - match_score``, built once per JVM gateway: every Column op
    costs py4j round trips."""
    return 1.0 - F.col("match_score")


class NativeCosineMatcher:
    """Deterministic matcher: match_score = BoW cosine of the two sides'
    concatenated attribute text (FIXTURES.md §2; same formula as
    certa/local_explain.py:221-234)."""

    cheap = True

    def __init__(self, lprefix: str = LPREFIX, rprefix: str = RPREFIX):
        self.lprefix = lprefix
        self.rprefix = rprefix

    def predict(self, pairs: DataFrame) -> DataFrame:
        score = bow_cosine_of(
            side_attributes(pairs.columns, self.lprefix),
            side_attributes(pairs.columns, self.rprefix),
        )
        return pairs.withColumn("match_score", score).withColumn(
            "nomatch_score", _nomatch_score(SparkContext._gateway)
        )

    # pandas twin used by tests/oracles — must agree with predict() to 1e-9
    def predict_pandas(self, pairs: pd.DataFrame) -> pd.DataFrame:
        import math
        import re
        from collections import Counter

        word = re.compile(r"\w+")

        def side_text(row: pd.Series, prefix: str) -> str:
            vals = [
                "" if pd.isna(row[c]) else str(row[c])
                for c in pairs.columns
                if c.startswith(prefix) and c != prefix + "id"
            ]
            return " ".join(vals)

        def cosine(t1: str, t2: str) -> float:
            v1 = Counter(word.findall(t1.lower()))
            v2 = Counter(word.findall(t2.lower()))
            inter = set(v1) & set(v2)
            num = sum(v1[x] * v2[x] for x in inter)
            den = math.sqrt(sum(v * v for v in v1.values())) * math.sqrt(
                sum(v * v for v in v2.values())
            )
            return float(num) / den if den else 0.0

        out = pairs.copy()
        scores = [
            cosine(side_text(r, self.lprefix), side_text(r, self.rprefix))
            for _, r in pairs.iterrows()
        ]
        out["match_score"] = scores
        out["nomatch_score"] = [1.0 - s for s in scores]
        return out


def mojito_variant(
    matcher,
    ignore_columns: tuple[str, ...] = ("label", "id"),
):
    """UD2 — the reference's LIME-facing model wrapper
    (certa/models/dm.py:17-38, ``wrapdm_mojito``): adapt a matcher into
    the callable ``pandas DataFrame -> np.ndarray (n, 2)`` of
    ``[nomatch, match]`` probabilities that LIME-style perturbation
    explainers consume (``np.dstack((1 - p, p)).squeeze()`` in the
    reference; same stacking here).

    ``matcher`` may be anything exposing ``predict_pandas`` (the
    Spark-native matchers' pandas twin) or a plain pandas
    ``predict_fn`` returning a frame with a ``match_score`` column.
    The reference round-trips each batch through a temp CSV (S6,
    dm.py:23-30); that shim is unnecessary here — the batch stays in
    memory. ``nomatch`` is recomputed as ``1 - match`` exactly as the
    reference does, rather than trusting the model's nomatch column.
    """
    import numpy as np

    if hasattr(matcher, "predict_pandas"):
        predict_fn = matcher.predict_pandas
    elif callable(matcher):
        predict_fn = matcher
    else:
        raise TypeError(
            "mojito_variant needs a matcher with predict_pandas or a "
            "pandas predict_fn"
        )

    def wrapper(pdf: pd.DataFrame) -> "np.ndarray":
        data = pdf.drop(
            columns=[c for c in ignore_columns if c in pdf.columns]
        )
        p = np.asarray(
            predict_fn(data)["match_score"].values, dtype=float
        ).reshape(-1)
        return np.dstack((1.0 - p, p)).squeeze()

    return wrapper


class PandasPredictAdapter:
    """Wrap a pandas ``predict_fn`` (or a factory producing one) as a
    distributed matcher via ``mapInPandas``.

    ``predict_fn``: pandas DataFrame -> same frame + score columns —
    exactly the reference contract, so any existing certa model wrapper
    plugs in unchanged. Use ``factory`` for heavyweight models so each
    executor constructs/loads the model once (cached per process).
    """

    cheap = False  # arbitrary user model — honor the early-exit budget

    def __init__(
        self,
        predict_fn: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
        factory: Callable[[], Callable[[pd.DataFrame], pd.DataFrame]] | None = None,
    ):
        if (predict_fn is None) == (factory is None):
            raise ValueError("provide exactly one of predict_fn / factory")
        self._predict_fn = predict_fn
        self._factory = factory

    def predict(self, pairs: DataFrame) -> DataFrame:
        out_schema = StructType(
            [f for f in pairs.schema.fields if f.name not in SCORE_COLS]
            + [
                StructField("nomatch_score", DoubleType()),
                StructField("match_score", DoubleType()),
            ]
        )
        predict_fn = self._predict_fn
        factory = self._factory
        in_cols = [f.name for f in out_schema.fields if f.name not in SCORE_COLS]

        def run(batches):
            fn = predict_fn
            if fn is None:
                global _certa_spark_model_cache
                try:
                    fn = _certa_spark_model_cache  # type: ignore[name-defined]
                except NameError:
                    fn = _certa_spark_model_cache = factory()  # noqa: F841
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                scored = fn(pdf[in_cols])
                yield scored[in_cols + list(SCORE_COLS)]

        return pairs.mapInPandas(run, schema=out_schema)
