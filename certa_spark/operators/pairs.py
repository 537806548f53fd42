"""Pair algebra — assembling (left, right) record pairs.

Reference semantics:
  * ``get_row`` (certa/utils.py:4-10): one left + one right record ->
    one wide prefixed row.
  * ``merge_sources`` (certa/utils.py:13-72): labeled id-pair table ->
    wide pair table via per-row ``.loc`` lookups (an O(n) Python loop).

Spark-first design (J1): two broadcast hash equi-joins. Entity source
tables are the small side (1e3-1e5 rows in the DeepMatcher benchmark
family) while the pair table may be huge — at 100TB the pair table
streams through two broadcast joins with zero shuffle.

The composite pair id ``"0@<lid>#1@<rid>"`` (certa/local_explain.py:44)
is kept as two typed key columns internally; the string form is
synthesized/parsed only at the API boundary (F1/F2).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    NullType,
    StringType,
    StructField,
    StructType,
    _infer_schema,
    _merge_type,
)

from certa_spark.io import local_frame
from certa_spark.schema import LPREFIX, RPREFIX, prefix_columns


def composite_id(lid: Column, rid: Column) -> Column:
    """F1 — ``"0@<lid>#1@<rid>"`` (certa/local_explain.py:44,190-191)."""
    return F.concat(
        F.lit("0@"), lid.cast("string"), F.lit("#1@"), rid.cast("string")
    )


def parse_composite_id(cid: Column) -> tuple[Column, Column]:
    """F2 — parse back to (lid, rid) string columns
    (certa/triangles_method.py:34-35,59-66). Left part keeps the
    ``0@``-style source tag; use ``parse_member`` for the numeric id."""
    parts = F.split(cid, "#")
    return parts.getItem(0), parts.getItem(1)


def parse_member(member: Column) -> tuple[Column, Column]:
    """``"<src>@<id>"`` -> (source_index int, record_id long)."""
    parts = F.split(member, "@")
    return parts.getItem(0).cast("int"), parts.getItem(1).cast("long")


def pair_rows(
    spark,
    pairs: list[tuple[dict, dict]],
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    index: str | None = None,
) -> DataFrame:
    """``get_row`` for many pairs (certa/utils.py:4-10): one wide row
    per ``(left, right)`` record pair given as dicts, plus, with
    ``index``, a column of that name holding the pair's position. Each
    row's types are inferred from its values and merged into one
    schema, sorted by name; a column ``None`` in every row is typed
    string. The frame is one local relation
    (:func:`certa_spark.io.local_frame`)."""
    rows = [
        {**{lprefix + k: v for k, v in l_record.items()},
         **{rprefix + k: v for k, v in r_record.items()},
         **({} if index is None else {index: i})}
        for i, (l_record, r_record) in enumerate(pairs)
    ]
    merged = functools.reduce(_merge_type, map(_infer_schema, rows))
    schema = StructType(
        [
            StructField(f.name, StringType())
            if isinstance(f.dataType, NullType)
            else f
            for f in sorted(merged.fields, key=lambda f: f.name)
        ]
    )
    return local_frame(
        spark, [tuple(row.get(f.name) for f in schema) for row in rows], schema
    )


def pair_row(
    spark,
    l_record: dict,
    r_record: dict,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> DataFrame:
    """The one-pair case of :func:`pair_rows`: a 1-row wide pair frame."""
    return pair_rows(spark, [(l_record, r_record)], lprefix, rprefix)


def merge_sources(
    pairs: DataFrame,
    lsource: DataFrame,
    rsource: DataFrame,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
    carry: tuple[str, ...] = ("label",),
    broadcast_sources: bool = True,
) -> DataFrame:
    """J1 — assemble wide pair rows from a labeled id-pair table.

    ``pairs`` must have ``ltable_id``/``rtable_id`` (+ carried cols);
    sources must have ``id``. Replaces the reference's per-row loop
    (certa/utils.py:18-30) with two broadcast hash joins.
    """
    lp = prefix_columns(lsource, lprefix)
    rp = prefix_columns(rsource, rprefix)
    if broadcast_sources:
        lp, rp = F.broadcast(lp), F.broadcast(rp)
    lkey, rkey = lprefix + "id", rprefix + "id"
    out = (
        pairs.select(lkey, rkey, *[c for c in carry if c in pairs.columns])
        .join(lp, on=lkey, how="inner")
        .join(rp, on=rkey, how="inner")
    )
    # stable, reference-like column order: left attrs, right attrs, carry
    ordered = (
        [lprefix + c for c in lsource.columns]
        + [rprefix + c for c in rsource.columns]
        + [c for c in carry if c in pairs.columns]
    )
    return out.select(*ordered)


def robust_augment(
    pairs_wide: DataFrame,
    lsource: DataFrame,
    rsource: DataFrame,
    lprefix: str = LPREFIX,
    rprefix: str = RPREFIX,
) -> DataFrame:
    """``merge_sources(robust=True)`` augmentation (certa/utils.py:32-71):
    append symmetry rows (sides swapped, label kept) and identity
    self-pairs (same record on both sides, label=1) for every distinct
    participating id. The reference appends only the loop-final row
    (a latent bug); we apply it to every pair, which is the documented
    intent.
    """
    swapped = pairs_wide.select(
        *[F.col(rprefix + c).alias(lprefix + c) for c in rsource.columns],
        *[F.col(lprefix + c).alias(rprefix + c) for c in lsource.columns],
        "label",
    )
    def self_pairs(src: DataFrame) -> DataFrame:
        return src.select(
            *[F.col(c).alias(lprefix + c) for c in src.columns],
            *[F.col(c).alias(rprefix + c) for c in src.columns],
            F.lit(1).alias("label"),
        )
    out = pairs_wide
    for extra in (swapped, self_pairs(lsource), self_pairs(rsource)):
        out = out.unionByName(extra, allowMissingColumns=True)
    return out
