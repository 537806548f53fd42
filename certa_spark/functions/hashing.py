"""Cross-engine deterministic hashing.

All dedup/fingerprint operators (MinHash, SimHash, rolling fingerprints)
need a hash that (a) runs JVM-side in whole-stage codegen and (b) can be
reproduced bit-for-bit by the DuckDB correctness oracle. Spark's
``hash``/``xxhash64`` don't exist in DuckDB, so we derive integers from
``md5`` (identical in every engine):

    Spark : conv(substring(md5(s), 1, 8), 16, 10)  -> 32-bit int as long
    DuckDB: ('0x' || substr(md5(s), 1, 8))::BIGINT

Seeded variants prepend ``"<seed>:"`` to the input. 60-bit variant uses
15 hex chars so the value always fits a signed 64-bit integer in both
engines.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_hex(col: Column) -> Column:
    return F.md5(col.cast("string"))


def _seeded(col: Column, seed: int | None) -> Column:
    s = col.cast("string")
    if seed is None:
        return s
    return F.concat(F.lit(f"{seed}:"), s)


def hash32(col: Column, seed: int | None = None) -> Column:
    """Deterministic 32-bit hash as a non-negative long."""
    return F.conv(F.substring(F.md5(_seeded(col, seed)), 1, 8), 16, 10).cast("long")


def md5_hash32(value: str, seed: int | None = None) -> int:
    """Driver-side twin of :func:`hash32` for one string: the same md5
    prefix, so equal to the Spark value bit for bit."""
    text = value if seed is None else f"{seed}:{value}"
    return int(hashlib.md5(text.encode("utf-8")).hexdigest()[:8], 16)


def hash64(col: Column, seed: int | None = None) -> Column:
    """Deterministic 60-bit hash as a non-negative long (15 hex chars —
    never overflows a signed 64-bit int, unlike the full 16)."""
    return F.conv(F.substring(F.md5(_seeded(col, seed)), 1, 15), 16, 10).cast("long")


def duck_hash32(expr: str, seed: int | None = None) -> str:
    """DuckDB SQL equivalent of :func:`hash32` for oracle queries."""
    inner = expr if seed is None else f"'{seed}:' || ({expr})"
    return f"(('0x' || substr(md5({inner}), 1, 8))::BIGINT)"


def duck_hash64(expr: str, seed: int | None = None) -> str:
    inner = expr if seed is None else f"'{seed}:' || ({expr})"
    return f"(('0x' || substr(md5({inner}), 1, 15))::BIGINT)"
