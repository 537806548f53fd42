"""Sources and sinks (SURVEY.md §2.1).

  S1/S2  CSV entity & labeled-pair scans (models/utils.py:36-41)
  S3     prediction-log sink/scan (triangles_method.py:220-221,
         explain.py:81-86) — parquet, partitioned by depth
  S4     experiment CSV sinks (eval.py:105,172-173)
  S5     lattice DOT sink — see certa_spark.lattice
  S7     report sink (models/utils.py:59-61)
  P10    file-existence memoization (eval.py:87-89)

The reference's temp-CSV model shim (S6, dm.py:61-68) is structurally
unnecessary on Spark: mapInPandas hands pandas batches straight to the
model.

Driver-built rows (probe pairs, perturbations, centroids, query result
rows) enter Spark through :func:`local_frame`.
"""

from __future__ import annotations

import os
import weakref
from typing import Callable, Hashable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StructField,
    StructType,
)


def local_frame(
    spark: SparkSession, rows, schema: StructType | str
) -> DataFrame:
    """Driver-built row tuples (one value per ``schema`` field, in field
    order) as a Spark frame, shipped as a ``pyarrow.Table`` typed by
    ``schema`` (a StructType or a DDL string).

    ``createDataFrame(list)`` pickles the rows into a ``parallelize``
    RDD, so the first action forks Python workers to unpickle them
    (~0.3-0.4 s even for one row). An Arrow table below
    ``spark.sql.execution.arrow.localRelationThreshold`` is planned as
    a ``LocalRelation`` instead: a collect over JVM expressions runs on
    the driver with no job, and a larger table becomes a JVM-side Arrow
    RDD, so no Python worker starts either way. A value that does not
    fit its field (a string in a numeric column, an int32 overflow)
    raises while the table is built."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)],
        schema=arrow,
    )
    return spark.createDataFrame(table, schema)


_DERIVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
T = TypeVar("T")


def derived(
    source: DataFrame, key: Hashable, build: Callable[[DataFrame], T]
) -> T:
    """``build(source)``, computed once per (source, key) and dropped
    with ``source``: a projection of the source (a frame) or a fact
    about it (its row count). A projection over fixed column names costs
    about a dozen py4j round trips per Column to build, so per-call
    paths reuse it and add only their per-call literals. ``build`` must
    be pure: two threads may both build on a first call, and either
    result serves."""
    by_key = _DERIVED.setdefault(source, {})
    if key not in by_key:
        by_key[key] = build(source)
    return by_key[key]


def read_entity_csv(
    spark: SparkSession, path: str, id_col: str = "id"
) -> DataFrame:
    """S1 — entity source table: header CSV, every attribute kept as
    string (the reference is stringly-typed, SURVEY.md §1.2), id cast
    long."""
    df = spark.read.csv(path, header=True, inferSchema=False)
    return df.select(
        F.col(id_col).cast("long").alias(id_col),
        *[F.col(c) for c in df.columns if c != id_col],
    )


PAIR_SCHEMA = StructType(
    [
        StructField("ltable_id", LongType()),
        StructField("rtable_id", LongType()),
        StructField("label", IntegerType()),
    ]
)


def read_pairs_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2 — labeled pair table (train/valid/test.csv)."""
    return spark.read.csv(path, header=True, schema=PAIR_SCHEMA)


def write_prediction_log(df: DataFrame, path: str) -> None:
    """S3 — persist perturbation predictions for lattice debug;
    partitioned by depth so the debug reader prunes."""
    cols = df.columns
    part = ["depth"] if "depth" in cols else []
    (
        df.withColumn(
            "alteredAttributes", F.array_join("alteredAttributes", "/")
        )
        .withColumn("droppedValues", F.array_join("droppedValues", "/"))
        .withColumn("copiedValues", F.array_join("copiedValues", "/"))
        .write.mode("overwrite")
        .partitionBy(*part)
        .parquet(path)
    )


def read_prediction_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_experiment_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """S4 — experiment result sink. ``single_file`` coalesces for the
    small result frames the reference writes; large outputs should keep
    default parallelism."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_report(text: str, path: str) -> None:
    """S7 — plain-text training report."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write(text)


def skip_if_exists(path: str) -> bool:
    """P10 — resume semantics: True when output already materialized
    (parquet _SUCCESS or non-empty dir/file)."""
    if os.path.isdir(path):
        return os.path.exists(os.path.join(path, "_SUCCESS")) or bool(
            os.listdir(path)
        )
    return os.path.exists(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    path: str | None = None,
) -> None:
    """Bucketed parquet table (hash-partitioned files on ``bucket_col``).

    The 100TB co-location primitive: two tables bucketed on the same
    key with the same bucket count join WITHOUT a shuffle (no Exchange
    in the plan — asserted in tests/test_io_streaming_mm.py), and a
    ``sort_col`` pre-sort turns the join's Sort into a no-op. Bucketing
    in Spark requires the table catalog (``saveAsTable``); pass
    ``path`` for an external table location.
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet (one directory per partition
    value). The 100TB pruning primitive: a filter on a partition column
    skips whole directories at planning time — the scan's
    PartitionFilters (asserted in tests) never touches excluded files.
    Keep partition cardinality bounded (date/hour/source, never a
    high-cardinality id) or the file listing itself becomes the
    bottleneck."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_col: str,
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet: range-partition on a z-key column
    (see ``operators/layout.zorder_key``) and sort within partitions,
    so every output file covers a small rectangle in BOTH interleaved
    dimensions. Parquet min/max column stats then prune files/row
    groups for predicates on EITHER dimension — the OPTIMIZE ZORDER
    layout of Delta/Iceberg, from two plain Spark primitives.
    ``repartitionByRange`` samples the z-key to build balanced range
    bounds, so file sizes stay even under skew."""
    (
        df.repartitionByRange(n_files, zorder_col)
        .sortWithinPartitions(zorder_col)
        .write.mode(mode)
        .parquet(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str | None = None,
) -> DataFrame:
    """Newline-delimited JSON source — the lingua franca of LLM
    training-data interchange. Pass ``schema`` (DDL string or
    StructType) in production: schema inference costs a FULL extra
    pass over the data (at 100TB that is a second 100TB scan) and can
    silently widen types between daily drops; an explicit schema makes
    the read one pass and the contract stable. Corrupt lines land in
    ``_corrupt_record`` instead of failing the job (PERMISSIVE mode),
    so a bad shard degrades to rows you can count and quarantine."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = "gzip",
) -> None:
    """JSONL sink (one object per line, gzip-compressed shards by
    default — JSONL is whitespace-heavy, ~5-10x smaller compressed;
    pass ``compression=None`` for downstream line-seekable readers).
    One file per partition: size output shards upstream with
    ``repartition(n)``, not here — a coalesce inside the sink would
    silently serialize the final stage."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — Spark's second first-class columnar format (Hive
    interop). Predicate pushdown / column pruning / vectorized read
    work exactly as for parquet; prefer parquet for new data, read ORC
    where the lake already has it."""
    return spark.read.orc(path)


def write_orc(
    df: DataFrame, path: str, mode: str = "overwrite",
    compression: str = "zstd",
) -> None:
    """ORC sink (zstd by default — smaller and faster to decode than
    the zlib default on every modern CPU)."""
    df.write.mode(mode).option("compression", compression).orc(path)


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    target_mb: int = 128,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into files of
    ~``target_mb`` each and return the output file count. The silent
    scale killer this fixes: a 100TB table written by 10k tasks x 1k
    micro-batches is 10M files, and every subsequent scan pays
    per-file open/footer costs plus a driver listing that can OOM.

    Sizing reads the SOURCE byte size from the files themselves (no
    data pass), then `repartition(n)` — a full shuffle, which is the
    point: it rebalances skewed input files instead of glueing them
    (`coalesce` would keep skew and can starve parallelism upstream).
    """
    import math

    jvm_path = spark._jvm.org.apache.hadoop.fs.Path(src_path)  # noqa: SLF001
    fs = jvm_path.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    summary = fs.getContentSummary(jvm_path)
    n_files = max(1, math.ceil(summary.getLength() / (target_mb * 1024 * 1024)))
    spark.read.parquet(src_path).repartition(n_files).write.mode(
        "overwrite"
    ).parquet(dst_path)
    return n_files
