"""Data augmentation — token-drop record variants (F7/UD5).

Reference: ``generate_modified`` / ``generate_subsequences`` /
``expand_copies`` (certa/local_explain.py:144-159,200-215,237-302)
build, for every attribute value and every cut position, two record
copies with the leading / trailing tokens removed. The reference does
this with nested Python loops and ``DataFrame.append`` (quadratic);
here it is a single ``select`` + ``explode`` over generated arrays —
fully distributed, one narrow stage, no shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from certa_spark.io import local_frame


def _variants_for_attr(attr: str) -> Column:
    """Array of struct(attr, val) token-drop variants of one attribute.

    Emission order matches the reference (cuts ascending; suffix-kept
    then prefix-kept, certa/local_explain.py:207-209).
    """
    toks = F.array_remove(F.split(F.col(attr).cast("string"), r"\s+"), "")
    n = F.size(toks)
    return F.when(
        n > 1,
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda cut: F.array(
                    F.struct(
                        F.lit(attr).alias("attr"),
                        F.array_join(F.slice(toks, cut + 1, n - cut), " ").alias("val"),
                    ),
                    F.struct(
                        F.lit(attr).alias("attr"),
                        F.array_join(F.slice(toks, 1, cut), " ").alias("val"),
                    ),
                ),
            )
        ),
    ).otherwise(F.array().cast("array<struct<attr:string,val:string>>"))


def generate_modified(
    source: DataFrame,
    attrs: list[str] | None = None,
    id_col: str = "id",
    start_id: int = 0,
) -> DataFrame:
    """All token-drop variants of every row (certa/local_explain.py:200-215).

    Returns the same schema as ``source``; ``id_col`` is reassigned to
    ``start_id + src_id * stride + pos`` where ``pos`` is the variant's
    position within its source row (attr position, cut, variant — the
    reference's emission order) and ``stride`` is one map-side max of
    the per-row variant count. Ids are deterministic, collision-free
    and ≥ ``start_id``, but gapped — unlike the r1 implementation,
    which ranked the whole output through a global-window row_number
    (an Exchange SinglePartition: a serial sort of every variant at
    100TB). Requires an integral ``id_col`` with
    ``src_id * stride + pos`` inside long range. All non-id attribute
    values are cast to string (the reference is stringly-typed,
    SURVEY.md §1.2).
    """
    if attrs is None:
        attrs = [c for c in source.columns if c != id_col]
    variants = F.flatten(F.array(*[_variants_for_attr(a) for a in attrs]))
    stringly = source.select(
        F.col(id_col).cast("long").alias("_src_id"),
        *[F.col(a).cast("string").alias(a) for a in attrs],
    )
    # per-row variant count: sum over attrs of 2*(n_tokens-1)
    n_var = None
    for a in attrs:
        toks = F.array_remove(F.split(F.col(a).cast("string"), r"\s+"), "")
        c = F.greatest(F.size(toks) - 1, F.lit(0)) * 2
        n_var = c if n_var is None else n_var + c
    stride = stringly.agg(F.max(n_var)).first()[0] or 0
    exploded = stringly.select(
        "_src_id", *attrs, F.posexplode(variants).alias("_pos", "_v")
    )
    out = exploded.select(
        (F.col("_src_id") * stride + F.col("_pos") + F.lit(start_id))
        .cast("long")
        .alias(id_col),
        *[
            F.when(F.col("_v.attr") == a, F.col("_v.val"))
            .otherwise(F.col(a))
            .alias(a)
            for a in attrs
        ],
    )
    return out.select(id_col, *attrs)


def generate_subsequences(
    lsource: DataFrame, rsource: DataFrame, id_col: str = "id"
) -> tuple[DataFrame, DataFrame]:
    """DA over both sources (certa/local_explain.py:144-159). New ids
    continue after each source's row count."""
    n_l = lsource.count()
    n_r = rsource.count()
    gen_left = generate_modified(lsource, id_col=id_col, start_id=n_l)
    gen_right = generate_modified(rsource, id_col=id_col, start_id=n_r)
    return gen_left, gen_right


# Java's ``\s`` (the ``split`` regex above) is only these six characters;
# Python's ``\s`` and ``str.split()`` also split on other Unicode spaces
_JAVA_SPACE = re.compile(r"[ \t\n\x0b\f\r]+")


def _modified_rows(record: dict, id_col: str, start_id: int) -> list[tuple]:
    """:func:`generate_modified` of one record, built on the driver: the
    same rows in the same order, ``(id, *attrs)`` with the attributes
    sorted by name and cast to string."""
    attrs = sorted(k for k in record if k != id_col)
    vals = [str(record[a]) for a in attrs]
    variants = []
    for i, v in enumerate(vals):
        toks = [t for t in _JAVA_SPACE.split(v) if t]
        for cut in range(1, len(toks)):
            variants += [(i, " ".join(toks[cut:])), (i, " ".join(toks[:cut]))]
    base = start_id + int(record[id_col]) * len(variants)
    return [
        (base + pos, *(val if j == i else v for j, v in enumerate(vals)))
        for pos, (i, val) in enumerate(variants)
    ]


def expand_copies(
    spark,
    l_record: dict,
    r_record: dict,
    n_lsource: int,
    n_rsource: int,
    id_col: str = "id",
) -> tuple[DataFrame, DataFrame]:
    """On-demand DA fallback (certa/local_explain.py:237-302): token-drop
    copies of the two explained records themselves, appended to the
    *opposite* source's id space. Returns (copies_left, copies_right):
    ``copies_left`` are right-table records derived from ``l_record``
    (ids continue after ``n_rsource``), ``copies_right`` are left-table
    records derived from ``r_record`` (ids after ``n_lsource``). Both
    are :func:`generate_modified`'s rows, built on the driver and shipped
    as local relations, so the fallback launches no job to size them.
    """

    def copies(record: dict, start_id: int) -> DataFrame:
        schema = StructType(
            [StructField(id_col, LongType())]
            + [StructField(k, StringType()) for k in sorted(record) if k != id_col]
        )
        return local_frame(spark, _modified_rows(record, id_col, start_id), schema)

    return copies(l_record, n_rsource), copies(r_record, n_lsource)
