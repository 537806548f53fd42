"""Data-augmentation generator tests (F7/UD5,
certa/local_explain.py:200-215 semantics)."""

from pyspark.sql import functions as F

from certa_spark.operators.augment import generate_modified


def test_variant_count_property(spark):
    """Output count = sum over attrs of 2*(len(tokens)-1)
    (FIXTURES.md §6)."""
    rows = [
        (0, "a b c", "x y", "99"),
        (1, "single", "p q r s", "12"),
    ]
    df = spark.createDataFrame(rows, ["id", "name", "description", "price"])
    out = generate_modified(df, start_id=10)
    def expected(row):
        return sum(2 * (len(str(v).split()) - 1) for v in row[1:])
    assert out.count() == sum(expected(r) for r in rows)


def test_variant_values_and_ids(spark):
    df = spark.createDataFrame([(0, "a b c")], ["id", "name"])
    out = generate_modified(df, start_id=5).orderBy("id").collect()
    # cuts: 1 -> ["b c", "a"], 2 -> ["c", "a b"] (suffix-kept then prefix-kept)
    vals = [r["name"] for r in out]
    assert vals == ["b c", "a", "c", "a b"]
    assert [r["id"] for r in out] == [5, 6, 7, 8]


def test_empty_and_single_token_attrs(spark):
    df = spark.createDataFrame([(0, "", "one")], ["id", "a", "b"])
    assert generate_modified(df).count() == 0


def test_multi_row_ids_unique_and_above_start(spark):
    """Arithmetic ids (src*stride+pos): unique, >= start_id, stable."""
    rows = [(0, "a b c"), (1, "p q"), (7, "x y z w")]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = generate_modified(df, start_id=100).collect()
    ids = [r["id"] for r in got]
    assert len(ids) == len(set(ids)) == 4 + 2 + 6
    assert min(ids) >= 100
    again = generate_modified(df, start_id=100).collect()
    assert sorted(ids) == sorted(r["id"] for r in again)


def test_no_single_partition_exchange_in_plan(spark):
    """The r1 global-window id pass serialized the output through one
    partition; the arithmetic id must keep the plan exchange-free."""
    df = spark.createDataFrame([(0, "a b c"), (1, "d e")], ["id", "name"])
    plan = generate_modified(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    assert "Window" not in plan


def test_expand_copies_rows_match_generate_modified(spark):
    """The DA fallback builds its copies on the driver; they must be
    ``generate_modified``'s rows, ids and order included. Java's ``\\s``
    splits on tabs and runs of spaces but not on a non-breaking space,
    which Python's ``str.split()`` would split on."""
    from pyspark.sql.types import StringType, StructField, StructType

    from certa_spark.operators.augment import expand_copies

    left = {"id": 3, "name": "a\tb  c\n", "descr": "x y z", "price": 7}
    right = {"id": 11, "name": "solo", "descr": " \x0bp\x0cq\rr ", "price": "1 2"}
    copies = expand_copies(spark, left, right, n_lsource=50, n_rsource=40)
    for record, start, got in ((left, 40, copies[0]), (right, 50, copies[1])):
        names = sorted(record)
        one = spark.createDataFrame(
            [tuple(str(record[k]) for k in names)],
            StructType([StructField(k, StringType()) for k in names]),
        )
        want = generate_modified(one, start_id=start)
        assert got.schema == want.schema
        assert [tuple(r) for r in got.collect()] == [
            tuple(r) for r in want.collect()
        ]
        assert got.count() > 0
