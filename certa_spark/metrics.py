"""Explanation-quality metrics (certa/metrics/) re-expressed as Spark
aggregations, plus the UD4 model-property probes.

  A9  CF validity    (metrics/counterfactual.py:4-15)
  A10 CF proximity   (metrics/counterfactual.py:18-33)
  A11 CF diversity   (metrics/counterfactual.py:36-60)
  A12 CF sparsity    (metrics/counterfactual.py:63-64)
  A13 saliency faithfulness AUC (metrics/saliency.py:138-173)
  A14 confidence indication     (metrics/saliency.py:16-135)
  UD4 identity/symmetry/transitivity probes
      (triangles_method.py:124-201)
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from certa_spark.io import local_frame
from certa_spark.matching import Matcher
from certa_spark.schema import LPREFIX, RPREFIX, pair_attributes


def cf_validity(cfs: DataFrame, class_to_explain: int, matcher: Matcher) -> float:
    """A9 — fraction of counterfactual rows whose re-prediction stays
    flipped away from the explained class."""
    if cfs.isEmpty():
        return 0.0
    pred = matcher.predict(cfs.drop("match_score", "nomatch_score"))
    score_of_class = (
        F.col("match_score") if class_to_explain == 1 else F.col("nomatch_score")
    )
    row = pred.agg(
        F.avg((score_of_class < 0.5).cast("double")).alias("v")
    ).collect()[0]
    return float(row["v"])


def cf_proximity(cfs: DataFrame, original: dict) -> float:
    """A10 — mean per-row fraction-like count of attribute values equal
    to the original record (reference counts matches, averaged)."""
    attrs = [c for c in cfs.columns if c in original]
    if not attrs or cfs.isEmpty():
        return 0.0
    same = sum(
        (F.col(c) == F.lit(str(original[c]))).cast("int") for c in attrs
    )
    return float(cfs.agg(F.avg(same.cast("double"))).collect()[0][0])


def cf_diversity(cfs: DataFrame, attrs: list[str] | None = None) -> float:
    """A11 — mean pairwise attribute-disagreement ratio across the CF
    set (self cross-join; CF sets are tens of rows)."""
    if attrs is None:
        attrs = pair_attributes(cfs.columns)
    n = cfs.count()
    if n < 2:
        return 0.0
    idx = cfs.select(
        F.monotonically_increasing_id().alias("_i"),
        *[F.col(c).alias(f"a_{c}") for c in attrs],
    ).cache()
    other = idx.select(
        F.col("_i").alias("_j"), *[F.col(f"a_{c}").alias(f"b_{c}") for c in attrs]
    )
    disagree = sum(
        (F.col(f"a_{c}") != F.col(f"b_{c}")).cast("int") for c in attrs
    ) / F.lit(float(len(attrs)))
    row = (
        idx.crossJoin(other)
        .filter(F.col("_i") < F.col("_j"))
        .agg(F.avg(disagree.cast("double")).alias("d"))
        .collect()[0]
    )
    return float(row["d"] or 0.0)


def cf_sparsity(proximity: float, n_attrs: int) -> float:
    """A12 — 1 - proximity / (ncols/2) (metrics/counterfactual.py:63-64)."""
    return 1.0 - proximity / (n_attrs / 2.0)


def mask_top_attributes(
    pairs: DataFrame, saliency: dict[str, float], threshold: float
) -> DataFrame:
    """A13 helper — blank out the top ``threshold`` fraction of salient
    attributes (masking = withColumn(attr, '')
    per metrics/saliency.py:160-167)."""
    k = int(threshold * len(saliency))
    top = [a for a, _ in sorted(saliency.items(), key=lambda kv: -kv[1])[:k]]
    out = pairs
    for a in top:
        if a in pairs.columns:
            out = out.withColumn(a, F.lit(""))
    return out


def faithfulness_auc(
    pairs: DataFrame,
    labels_col: str,
    saliency: dict[str, float],
    matcher: Matcher,
    thresholds: tuple[float, ...] = (0.1, 0.25, 0.5, 0.75, 0.9),
) -> float:
    """A13 — mask top-k salient attributes at increasing thresholds,
    re-evaluate model F1, return the area under the (threshold, F1)
    curve via the trapezoid rule. Lower area = saliency identified the
    attributes the model truly relies on."""
    f1s = []
    for t in thresholds:
        masked = mask_top_attributes(pairs, saliency, t)
        pred = matcher.predict(masked).withColumn(
            "_p", (F.col("match_score") > 0.5).cast("int")
        )
        agg = pred.agg(
            F.sum(((F.col("_p") == 1) & (F.col(labels_col) == 1)).cast("long")).alias("tp"),
            F.sum(((F.col("_p") == 1) & (F.col(labels_col) == 0)).cast("long")).alias("fp"),
            F.sum(((F.col("_p") == 0) & (F.col(labels_col) == 1)).cast("long")).alias("fn"),
        ).collect()[0]
        tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    auc = 0.0
    for i in range(1, len(thresholds)):
        auc += (thresholds[i] - thresholds[i - 1]) * (f1s[i] + f1s[i - 1]) / 2.0
    return auc


def confidence_indication(
    explanations: DataFrame,
    confidence_col: str = "confidence",
    feature_cols: list[str] | None = None,
    folds: int = 5,
    seed: int = 42,
) -> dict[str, float]:
    """A14 — regress model confidence on saliency-derived features with
    MLlib MinMaxScaler + LinearRegression over k random splits; returns
    mean MAE and max error (metrics/saliency.py:16-135)."""
    from pyspark.ml.feature import MinMaxScaler, VectorAssembler
    from pyspark.ml.regression import LinearRegression

    if feature_cols is None:
        feature_cols = [
            c for c in explanations.columns if c != confidence_col
        ]
    assembler = VectorAssembler(inputCols=feature_cols, outputCol="_raw")
    scaler = MinMaxScaler(inputCol="_raw", outputCol="features")
    maes, maxes = [], []
    base = assembler.transform(explanations)
    for i in range(folds):
        train, test = base.randomSplit([0.8, 0.2], seed=seed + i)
        if test.isEmpty() or train.isEmpty():
            continue
        model_scale = scaler.fit(train)
        lr = LinearRegression(
            featuresCol="features", labelCol=confidence_col, predictionCol="_pred"
        )
        model = lr.fit(model_scale.transform(train))
        pred = model.transform(model_scale.transform(test))
        err = pred.select(
            F.abs(F.col("_pred") - F.col(confidence_col)).alias("e")
        ).agg(F.avg("e").alias("mae"), F.max("e").alias("mx")).collect()[0]
        maes.append(err["mae"])
        maxes.append(err["mx"])
    return {
        "mae": float(sum(maes) / len(maes)) if maes else float("nan"),
        "max_error": float(max(maxes)) if maxes else float("nan"),
    }


def class_balance(pairs: DataFrame, label_col: str = "label") -> DataFrame:
    """A15 — match/non-match counts (certa/models/DeepER.py:252-259)."""
    return pairs.groupBy(label_col).agg(F.count("*").cast("long").alias("n"))


def check_properties(
    spark: SparkSession,
    triangle: tuple[str, str, str],
    lsource: DataFrame,
    rsource: DataFrame,
    matcher: Matcher,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> tuple[bool, bool, bool]:
    """UD4 — identity/symmetry/transitivity probes for one triangle
    (triangles_method.py:124-201): build the 12 derived pairs in one
    DataFrame, predict once, reduce to 3 booleans."""
    def fetch(member: str) -> dict:
        src, rid = member.split("@")
        df = lsource if src == "0" else rsource
        row = df.filter(F.col("id") == int(rid)).limit(1).collect()
        if not row:
            raise KeyError(member)
        return {k: v for k, v in zip(df.columns, row[0])}

    if triangle[0].startswith("0"):
        u, v, w = fetch(triangle[0]), fetch(triangle[1]), fetch(triangle[2])
    else:
        v, u, w = fetch(triangle[0]), fetch(triangle[1]), fetch(triangle[2])

    probes = [
        (u, u), (v, v), (w, w),                    # identity
        (u, v), (v, u), (u, w), (w, u), (v, w), (w, v),  # symmetry
        (u, v), (v, w), (u, w),                    # transitivity
    ]
    rows = []
    for i, (l_rec, r_rec) in enumerate(probes):
        rows.append(
            {
                "_probe": i,
                **{lprefix + k: str(val) for k, val in l_rec.items()},
                **{rprefix + k: str(val) for k, val in r_rec.items()},
            }
        )
    names = sorted(set().union(*rows))
    schema = StructType(
        [
            StructField(n, LongType() if n == "_probe" else StringType())
            for n in names
        ]
    )
    df = local_frame(spark, [tuple(r.get(n) for n in names) for r in rows], schema)
    pred = matcher.predict(df).select(
        "_probe", (F.col("match_score") > F.col("nomatch_score")).cast("int").alias("m")
    )
    p = {r["_probe"]: r["m"] for r in pred.collect()}
    identity = p[0] == 1 and p[1] == 1 and p[2] == 1
    symmetry = p[3] == p[4] and p[5] == p[6] and p[7] == p[8]
    matches = p[9] + p[10] + p[11]
    transitivity = matches == 3 or matches == 0 or matches == 1
    return identity, symmetry, transitivity
