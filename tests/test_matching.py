"""Matcher boundary tests: native vs pandas twin, mapInPandas adapter."""

import pandas as pd
from pyspark.sql import functions as F

from certa_spark.matching import NativeCosineMatcher, PandasPredictAdapter
from certa_spark.operators.pairs import merge_sources


def _pairs_df(spark, er_tables, n=12):
    rows_a, rows_b, A, B = er_tables
    pairs = spark.createDataFrame(
        [(i % 40, (i * 7) % 40, 0) for i in range(n)],
        ["ltable_id", "rtable_id", "label"],
    )
    return merge_sources(pairs, A, B)


def test_native_matches_pandas_twin(spark, er_tables):
    wide = _pairs_df(spark, er_tables)
    m = NativeCosineMatcher()
    got = m.predict(wide).orderBy("ltable_id", "rtable_id").toPandas()
    exp = m.predict_pandas(wide.orderBy("ltable_id", "rtable_id").toPandas())
    for g, e in zip(got["match_score"], exp["match_score"]):
        assert abs(g - e) < 1e-9
    # scores sum to 1
    assert ((got["match_score"] + got["nomatch_score"] - 1.0).abs() < 1e-12).all()


def test_native_cosine_built_once_per_layout(spark, er_tables, monkeypatch):
    """Frames with the same pair columns share one cosine Column; a
    frame with other columns gets its own."""
    import certa_spark.functions.text as T

    built = []
    build = T.bow_cosine

    def counting(a, b, lowercase=True):
        col = build(a, b, lowercase)
        built.append(col)
        return col

    monkeypatch.setattr(T, "bow_cosine", counting)
    T._bow_cosine_of.cache_clear()
    m = NativeCosineMatcher()
    wide = _pairs_df(spark, er_tables)
    m.predict(wide)
    m.predict(_pairs_df(spark, er_tables, n=5))
    assert len(built) == 1
    narrow = m.predict(wide.drop("ltable_price", "rtable_price"))
    assert len(built) == 2 and built[0] is not built[1]
    assert T.bow_cosine_of(
        [c for c in wide.columns if c.startswith("ltable_") and c != "ltable_id"],
        [c for c in wide.columns if c.startswith("rtable_") and c != "rtable_id"],
    ) is built[0]
    narrow.collect()


def test_pandas_adapter_agrees_with_native(spark, er_tables):
    wide = _pairs_df(spark, er_tables)
    native = NativeCosineMatcher()
    ref = native.predict(wide).orderBy("ltable_id", "rtable_id").toPandas()

    twin = NativeCosineMatcher()
    adapter = PandasPredictAdapter(predict_fn=twin.predict_pandas)
    got = adapter.predict(wide).orderBy("ltable_id", "rtable_id").toPandas()
    for g, e in zip(got["match_score"], ref["match_score"]):
        assert abs(g - e) < 1e-9


def test_mojito_variant_stacks_probabilities(spark, er_tables):
    """UD2 (certa/models/dm.py:17-38): (n, 2) [nomatch, match] ndarray,
    nomatch recomputed as 1-match, ignore columns dropped first."""
    import numpy as np

    from certa_spark.matching import mojito_variant

    wide = _pairs_df(spark, er_tables, n=8).toPandas()
    wide["label"] = 0
    m = NativeCosineMatcher()
    fn = mojito_variant(m)
    out = fn(wide)
    assert out.shape == (8, 2)
    exp = m.predict_pandas(wide.drop(columns=["label"]))["match_score"].values
    assert np.allclose(out[:, 1], exp)
    assert np.allclose(out[:, 0], 1.0 - exp)
    # plain predict_fn path
    fn2 = mojito_variant(m.predict_pandas)
    assert np.allclose(fn2(wide), out)
    import pytest

    with pytest.raises(TypeError):
        mojito_variant(42)


def test_get_model_train_report_save_then_load(spark, er_tables, tmp_path):
    """§3.2 lifecycle (certa/models/utils.py:23-67): miss -> train +
    report + save; second call loads without retraining and predicts
    identically."""
    from certa_spark.models import get_model

    rows_a, rows_b, A, B = er_tables
    datadir = tmp_path / "data"
    datadir.mkdir()
    A.toPandas().to_csv(datadir / "tableA.csv", index=False)
    B.toPandas().to_csv(datadir / "tableB.csv", index=False)
    import pandas as _pd

    pairs = _pd.DataFrame(
        [
            (i % 40, (i * 7) % 40, 1 if i % 40 == (i * 7) % 40 else i % 2)
            for i in range(30)
        ],
        columns=["ltable_id", "rtable_id", "label"],
    )
    pairs.iloc[:20].to_csv(datadir / "train.csv", index=False)
    pairs.iloc[20:25].to_csv(datadir / "valid.csv", index=False)
    pairs.iloc[25:].to_csv(datadir / "test.csv", index=False)

    modeldir = str(tmp_path / "model_out")
    m1 = get_model(spark, modeldir, str(datadir))
    report = (tmp_path / "model_out" / "report.txt").read_text()
    assert report.startswith("p:") and "f1:" in report

    m2 = get_model(spark, modeldir, str(datadir))  # load path
    wide = _pairs_df(spark, er_tables, n=6)
    s1 = m1.predict(wide).orderBy("ltable_id", "rtable_id").toPandas()
    s2 = m2.predict(wide).orderBy("ltable_id", "rtable_id").toPandas()
    for a, b in zip(s1["match_score"], s2["match_score"]):
        assert abs(a - b) < 1e-12
    # robust=True trains on the augmented split without error
    m3 = get_model(
        spark, str(tmp_path / "model_robust"), str(datadir), robust=True
    )
    assert m3.predict(wide).count() == 6


def test_adapter_factory_path(spark, er_tables):
    wide = _pairs_df(spark, er_tables, n=6)

    def factory():
        m = NativeCosineMatcher()
        return m.predict_pandas

    adapter = PandasPredictAdapter(factory=factory)
    out = adapter.predict(wide)
    assert out.count() == 6
    assert "match_score" in out.columns
