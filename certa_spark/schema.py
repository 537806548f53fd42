"""Column-naming helpers for the pair data model.

The reference's data model (SURVEY.md §1.1) merges a "left" and a
"right" entity record into one wide row whose columns carry ``ltable_``
/ ``rtable_`` prefixes (reference: certa/utils.py:4-10,
certa/triangles_method.py:13-17). These helpers are the Spark-side
equivalent, applied via ``select`` aliasing (zero-cost projections —
Catalyst collapses them).

Note: the reference strips prefixes with ``str.lstrip("ltable_")``
(certa/explain.py:116-117) which strips a *character set*, a latent
bug (e.g. ``ltable_title`` -> ``itle``). We implement a true
prefix-strip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LPREFIX = "ltable_"
RPREFIX = "rtable_"


def prefix_columns(df: DataFrame, prefix: str, exclude: tuple[str, ...] = ()) -> DataFrame:
    """P1 — add ``prefix`` to every column (certa/triangles_method.py:13-17)."""
    return df.select(
        *[F.col(c).alias(c if c in exclude else prefix + c) for c in df.columns]
    )


def strip_prefix(name: str, prefix: str) -> str:
    """P2 — true prefix strip (fixes lstrip char-set bug, explain.py:116)."""
    return name[len(prefix):] if name.startswith(prefix) else name


def side_attributes(columns: list[str], prefix: str) -> list[str]:
    """P6 — attribute columns of one side, its id excluded
    (certa/local_explain.py:108)."""
    return [c for c in columns if c.startswith(prefix) and c != prefix + "id"]


def pair_attributes(
    columns: list[str], lprefix: str = LPREFIX, rprefix: str = RPREFIX
) -> list[str]:
    """All prefixed attribute columns except the ids — the perturbable
    attribute universe (certa/triangles_method.py:211-212)."""
    return [
        c
        for c in columns
        if (c.startswith(lprefix) or c.startswith(rprefix))
        and c not in (lprefix + "id", rprefix + "id")
    ]
