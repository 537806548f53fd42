"""Trainable ER matcher (UD3 — certa/models/ermodel.py:12-24 contract:
train / evaluation / save / load / predict) built on Spark MLlib.

The reference wraps torch/TF models (DeepMatcher, BERT, Ditto, DeepER);
those plug in through PandasPredictAdapter unchanged. This module is the
*Spark-native* baseline matcher: JVM-side similarity features (cosine,
jaccard, containment, length ratios) + MLlib LogisticRegression — fully
distributed train and inference, no Python in the scoring path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from certa_spark.functions.text import bow_cosine_tokens, side_text, tokenize
from certa_spark.operators.dedup import jaccard
from certa_spark.schema import LPREFIX, RPREFIX, side_attributes


def pair_features(pairs: DataFrame, lprefix: str = LPREFIX, rprefix: str = RPREFIX) -> DataFrame:
    """Similarity feature block — pure Column expressions."""
    lt = tokenize(side_text(side_attributes(pairs.columns, lprefix)))
    rt = tokenize(side_text(side_attributes(pairs.columns, rprefix)))
    ld, rd = F.array_distinct(lt), F.array_distinct(rt)
    inter = F.size(F.array_intersect(ld, rd)).cast("double")
    return (
        pairs.withColumn("f_cosine", bow_cosine_tokens(lt, rt))
        .withColumn("f_jaccard", jaccard(ld, rd))
        .withColumn(
            "f_containment",
            F.when(F.least(F.size(ld), F.size(rd)) == 0, F.lit(0.0)).otherwise(
                inter / F.least(F.size(ld), F.size(rd)).cast("double")
            ),
        )
        .withColumn(
            "f_len_ratio",
            F.when(F.greatest(F.size(lt), F.size(rt)) == 0, F.lit(1.0)).otherwise(
                F.least(F.size(lt), F.size(rt)).cast("double")
                / F.greatest(F.size(lt), F.size(rt)).cast("double")
            ),
        )
    )


FEATURES = ["f_cosine", "f_jaccard", "f_containment", "f_len_ratio"]


class MLlibMatcher:
    """ERModel-contract matcher backed by an MLlib LogisticRegression
    pipeline over the similarity feature block."""

    cheap = True  # JVM-side scoring; extra fused-depth rows are free

    def __init__(self, lprefix: str = LPREFIX, rprefix: str = RPREFIX):
        self.lprefix = lprefix
        self.rprefix = rprefix
        self._model = None

    def train(self, train_pairs: DataFrame, valid_pairs: DataFrame | None = None,
              name: str = "mllib_matcher") -> "MLlibMatcher":
        from pyspark.ml import Pipeline
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.feature import VectorAssembler

        feats = pair_features(train_pairs, self.lprefix, self.rprefix)
        pipeline = Pipeline(
            stages=[
                VectorAssembler(inputCols=FEATURES, outputCol="features"),
                LogisticRegression(
                    featuresCol="features",
                    labelCol="label",
                    probabilityCol="_prob",
                    predictionCol="_pred",
                    rawPredictionCol="_raw",
                ),
            ]
        )
        fitted = pipeline.fit(
            feats.withColumn("label", F.col("label").cast("double"))
        )
        # the freshly-fit LogisticRegressionModel carries a
        # trainingSummary whose SparkSession reference (incl. the
        # non-serializable ObservationManager) gets dragged into the
        # transform closure — "Task not serializable" depending on
        # session state. Clear the summary on the JVM model directly
        # (HasTrainingSummary.setSummary(None)) — zero IO, and unlike
        # the earlier save/load round-trip through a driver-local
        # tempdir it needs no filesystem shared with the executors, so
        # it works identically on a real multi-node cluster.
        # setSummary is private[ml] (public only in bytecode) — guard
        # the py4j reach-in so a Spark upgrade that renames it degrades
        # to a fitted-but-summary-carrying model (usable; transform
        # closures may then hit the serializability caveat above)
        # instead of turning train() into a Py4JError.
        try:
            none = train_pairs.sparkSession._jvm.scala.Option.empty()
            for stage in fitted.stages:
                if getattr(stage, "hasSummary", False) and hasattr(
                    stage._java_obj, "setSummary"
                ):
                    stage._java_obj.setSummary(none)
        except Exception:  # py4j surface moved: keep the model usable
            pass
        self._model = fitted
        return self

    def predict(self, pairs: DataFrame) -> DataFrame:
        if self._model is None:
            raise RuntimeError("train() or load() first")
        feats = pair_features(pairs, self.lprefix, self.rprefix)
        scored = self._model.transform(feats)
        # probability vector -> two double columns (UD1 contract)
        from pyspark.ml.functions import vector_to_array

        arr = vector_to_array(F.col("_prob"))
        return (
            scored.withColumn("nomatch_score", arr.getItem(0))
            .withColumn("match_score", arr.getItem(1))
            .drop("_prob", "_pred", "_raw", "features", *FEATURES)
        )

    def evaluation(self, test_pairs: DataFrame) -> tuple[float, float, float]:
        """(precision, recall, f1) at the 0.5 threshold."""
        pred = self.predict(test_pairs).withColumn(
            "_p", (F.col("match_score") > 0.5).cast("int")
        )
        agg = pred.agg(
            F.sum(((F.col("_p") == 1) & (F.col("label") == 1)).cast("long")).alias("tp"),
            F.sum(((F.col("_p") == 1) & (F.col("label") == 0)).cast("long")).alias("fp"),
            F.sum(((F.col("_p") == 0) & (F.col("label") == 1)).cast("long")).alias("fn"),
        ).collect()[0]
        tp, fp, fn = agg["tp"], agg["fp"], agg["fn"]
        p = tp / (tp + fp) if tp + fp else 0.0
        r = tp / (tp + fn) if tp + fn else 0.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        return p, r, f1

    def save(self, path: str) -> None:
        self._model.write().overwrite().save(path)

    def load(self, path: str) -> "MLlibMatcher":
        from pyspark.ml import PipelineModel

        self._model = PipelineModel.load(path)
        return self


def get_model(
    spark,
    modeldir: str,
    datadir: str,
    modelname: str = "mllib_matcher",
    robust: bool = False,
) -> MLlibMatcher:
    """§3.2 lifecycle driver — reference certa/models/utils.py:23-67:
    try to LOAD a saved model from ``modeldir``; else read the
    DeepMatcher-format dataset from ``datadir`` (``tableA.csv`` /
    ``tableB.csv`` / ``train.csv`` / ``valid.csv`` / ``test.csv``),
    assemble wide pairs (J1 broadcast joins, not the reference's
    per-row loop), TRAIN, EVALUATE on the test split, append the
    ``p/r/f1`` line to ``<modeldir>/report.txt`` (S7), and SAVE.

    ``robust=True`` maps the reference's ``merge_sources(...,
    robust=True)`` augmentation: symmetry rows + identity self-pairs
    appended to the training split only (certa/utils.py:32-71 via
    :func:`certa_spark.operators.pairs.robust_augment`).

    Unlike the reference, failures are NOT swallowed by a bare
    ``except: pass`` — a broken dataset or write error raises; only
    the load-miss falls through to training (P10 existence check, no
    exception control flow)."""
    import os

    from certa_spark.io import (
        read_entity_csv,
        read_pairs_csv,
        skip_if_exists,
        write_report,
    )
    from certa_spark.operators.pairs import merge_sources, robust_augment

    # MLlib's overwrite-save DELETES its target dir, so the pipeline
    # lives in <modeldir>/model and report.txt beside it survives
    model_path = os.path.join(modeldir, "model")
    model = MLlibMatcher()
    if skip_if_exists(model_path):
        return model.load(model_path)

    lsource = read_entity_csv(spark, os.path.join(datadir, "tableA.csv"))
    rsource = read_entity_csv(spark, os.path.join(datadir, "tableB.csv"))
    train = read_pairs_csv(spark, os.path.join(datadir, "train.csv"))
    valid = read_pairs_csv(spark, os.path.join(datadir, "valid.csv"))
    test = read_pairs_csv(spark, os.path.join(datadir, "test.csv"))

    train_df = merge_sources(train, lsource, rsource)
    if robust:
        train_df = robust_augment(train_df, lsource, rsource)
    valid_df = merge_sources(valid, lsource, rsource)
    test_df = merge_sources(test, lsource, rsource)

    model.train(train_df, valid_df, modelname)
    precision, recall, f1 = model.evaluation(test_df)
    write_report(
        f"p:{precision}, r:{recall}, f1:{f1}",
        os.path.join(modeldir, "report.txt"),
    )
    model.save(model_path)
    return model
