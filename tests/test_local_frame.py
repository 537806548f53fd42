"""Driver-built rows enter Spark as Arrow local relations
(certa_spark.io.local_frame): an exact, strictly typed round trip, and
no pickled Python RDD on the explain path or in the iterative
operators."""

import pyarrow as pa
import pytest
from pyspark import SparkContext
from pyspark.sql.types import StructType

from certa_spark.explainer import CertaExplainer
from certa_spark.io import local_frame
from certa_spark.matching import NativeCosineMatcher
from certa_spark.operators.pairs import pair_row
from tests.fixtures import COLS
from tests.test_partition_invariance import SF

SCHEMA = (
    "s string, l long, i int, d double, b boolean, "
    "tags array<string>, vecs array<array<double>>"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_local_frame_round_trip(spark):
    rows = [
        ("a", 2**40, -7, 0.5, True, ["x", "y"], [[1.0, 2.5], []]),
        (None, None, None, None, None, None, None),
        ("", -1, 2**31 - 1, -1e300, False, [], [[float("inf")], None]),
    ]
    df = local_frame(spark, rows, SCHEMA)
    assert df.schema == StructType.fromDDL(SCHEMA)
    assert [tuple(r) for r in df.collect()] == rows
    assert _plan(df).startswith("LocalRelation")


def test_local_frame_empty(spark):
    df = local_frame(spark, [], SCHEMA)
    assert df.schema == StructType.fromDDL(SCHEMA)
    assert df.collect() == []


@pytest.mark.parametrize(
    "rows, schema",
    [([("x",)], "a long"), ([(2**31,)], "a int")],
    ids=["string-in-long", "int32-overflow"],
)
def test_local_frame_rejects_misfit_values(spark, rows, schema):
    with pytest.raises(pa.ArrowException):
        local_frame(spark, rows, schema)


class _Recording:
    """NativeCosineMatcher that keeps every frame it scores."""

    cheap = True

    def __init__(self):
        self.inner = NativeCosineMatcher()
        self.frames = []

    def predict(self, pairs):
        self.frames.append(pairs)
        return self.inner.predict(pairs)


def test_pair_and_perturbation_frames_are_local_relations(spark, er_tables):
    rows_a, rows_b, A, B = er_tables
    l, r = dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))
    assert _plan(pair_row(spark, l, r)).startswith("LocalRelation")
    m = _Recording()
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    assert ex.explain(l, r, m, num_triangles=10).triangles
    perturbed = [f for f in m.frames if "alteredAttributes" in f.columns]
    assert len(perturbed) == 1
    assert _plan(perturbed[0]).startswith("LocalRelation")


def test_no_pickled_rdd_on_explain_or_operators(spark, er_tables, monkeypatch):
    """With ``SparkContext.parallelize`` refusing, a warm explain and
    the k-means and Louvain registry queries still run."""
    from certa_spark.queries import q_embedding_kmeans, q_part_louvain

    rows_a, rows_b, A, B = er_tables
    ex = CertaExplainer(spark, A, B, data_augmentation="no")
    m = NativeCosineMatcher()
    l, r = dict(zip(COLS, rows_a[0])), dict(zip(COLS, rows_b[0]))
    ex.explain(l, r, m, num_triangles=10)

    def refuse(*args, **kwargs):
        raise AssertionError("driver rows shipped as a pickled Python RDD")

    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    assert ex.explain(l, r, m, num_triangles=10).triangles
    assert q_embedding_kmeans(spark, SF).count() == 8
    assert q_part_louvain(spark, SF).count() == 1


def test_derived_built_once_and_dropped_with_its_source(spark):
    """``io.derived`` builds once per (source, key), and its memo keeps
    no source alive."""
    import gc
    import weakref

    from certa_spark.io import derived

    source = spark.range(3)
    builds = []

    def build(s):
        builds.append(s)
        return s.select("id")

    first = derived(source, "k", build)
    assert derived(source, "k", build) is first
    assert derived(source, "other", build) is not first
    assert len(builds) == 2
    alive = weakref.ref(source)
    del source, builds
    gc.collect()
    assert alive() is None
    assert first.collect()  # the derived frame outlives its source
