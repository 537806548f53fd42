"""Pair algebra golden tests (J1, F1/F2, robust augmentation)."""

from pyspark.sql import functions as F

from certa_spark.operators.pairs import (
    composite_id,
    merge_sources,
    parse_composite_id,
    pair_row,
    parse_member,
    robust_augment,
)


def test_pair_row_types_null_attribute_as_string(spark):
    """Columns sorted by name and typed from the values; a missing
    value types its column as string instead of failing inference."""
    df = pair_row(spark, {"id": 1, "name": None}, {"id": 2, "name": "c"})
    assert df.schema.simpleString() == (
        "struct<ltable_id:bigint,ltable_name:string,"
        "rtable_id:bigint,rtable_name:string>"
    )
    assert [tuple(r) for r in df.collect()] == [(1, None, 2, "c")]


def test_merge_sources_matches_manual_join(spark, er_tables):
    rows_a, rows_b, A, B = er_tables
    pairs = spark.createDataFrame(
        [(0, 0, 1), (0, 3, 0), (2, 2, 1)], ["ltable_id", "rtable_id", "label"]
    )
    out = merge_sources(pairs, A, B).orderBy("ltable_id", "rtable_id").collect()
    assert len(out) == 3
    a_by_id = {r[0]: r for r in rows_a}
    b_by_id = {r[0]: r for r in rows_b}
    row = out[0]
    assert row["ltable_name"] == a_by_id[0][1]
    assert row["rtable_name"] == b_by_id[0][1]
    assert row["label"] == 1
    # column order: left attrs ++ right attrs ++ label (utils.py:4-10 shape)
    cols = out and [c for c in pairs.limit(0).columns]  # noqa: F841
    names = merge_sources(pairs, A, B).columns
    assert names[:4] == ["ltable_id", "ltable_name", "ltable_description", "ltable_price"]
    assert names[-1] == "label"


def test_composite_id_roundtrip(spark):
    df = spark.createDataFrame([(12, 34)], ["l", "r"])
    cid = df.select(composite_id(F.col("l"), F.col("r")).alias("id"))
    assert cid.collect()[0]["id"] == "0@12#1@34"
    lt, rt = parse_composite_id(F.col("id"))
    row = cid.select(lt.alias("lt"), rt.alias("rt")).collect()[0]
    assert (row["lt"], row["rt"]) == ("0@12", "1@34")
    src, rid = parse_member(F.col("id"))
    row2 = cid.select(F.split("id", "#").getItem(1).alias("id")).select(
        *parse_member(F.col("id"))
    ).collect()[0]
    assert tuple(row2) == (1, 34)


def test_robust_augment_counts(spark, er_tables):
    _, _, A, B = er_tables
    pairs = spark.createDataFrame(
        [(0, 0, 1), (1, 3, 0)], ["ltable_id", "rtable_id", "label"]
    )
    wide = merge_sources(pairs, A, B)
    n_a, n_b = A.count(), B.count()
    aug = robust_augment(wide, A, B)
    # original + swapped + identity self-pairs for every source row
    assert aug.count() == 2 + 2 + n_a + n_b
    # identity rows are labeled 1
    ident = aug.filter(
        (F.col("ltable_id") == F.col("rtable_id"))
        & (F.col("ltable_name") == F.col("rtable_name"))
    )
    assert ident.filter(F.col("label") != 1).count() == 0


def test_salted_join_matches_plain(spark):
    from certa_spark.operators.skew import salted_join

    # key 0 is pathologically hot
    big = spark.createDataFrame(
        [(0 if i % 3 else i % 5, i) for i in range(300)], "k long, payload long"
    )
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(5)], "k long, name string")
    plain = sorted(map(tuple, big.join(small, "k").collect()))
    salted = sorted(map(tuple, salted_join(big, small, "k", salt=4).collect()))
    assert salted == plain
    # left join keeps unmatched big rows exactly once
    big2 = big.union(spark.createDataFrame([(99, 1)], "k long, payload long"))
    left_plain = sorted(map(tuple, big2.join(small, "k", "left").collect()))
    left_salted = sorted(
        map(tuple, salted_join(big2, small, "k", salt=4, how="left").collect())
    )
    assert left_salted == left_plain


def test_partitioned_write_prunes(spark, tmp_path):
    from certa_spark import io as IO

    df = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], float(i)) for i in range(90)],
        "id long, source string, v double",
    )
    p = str(tmp_path / "part")
    IO.write_partitioned(df, p, ["source"])
    back = spark.read.parquet(p).filter(F.col("source") == "b")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(source" in plan and "= b)" in plan, plan
    assert back.count() == 30
