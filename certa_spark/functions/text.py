"""Text scalar functions — pure Column expressions (JVM-side, codegen).

``bow_cosine`` re-expresses the reference's bag-of-words cosine
(certa/local_explain.py:218-234 ``cs``: regex ``\\w+`` tokenize ->
term-frequency Counter -> cosine) as Spark higher-order array functions,
so candidate scoring over millions of pairs never leaves the JVM.

Each side is tokenized once per row: the token arrays are bound to
lambda variables before the formula reads them (Spark does not share
subexpressions inside higher-order functions, so an unbound token
expression would rerun the regex on every read).

``bow_cosine_of`` memoizes the cosine over two tuples of column names:
building the expression costs hundreds of py4j round trips, so the
support scan and ``NativeCosineMatcher`` build it once per column
layout. Per-call values (the scan's probe text) enter as literal
columns, never inside the shared expression. ``side_text`` is the one
attribute-text expression every caller concatenates a side with.
"""

from __future__ import annotations

import functools
from collections.abc import Iterable

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_PATTERN = r"\w+"


def tokenize(col: Column, lowercase: bool = True) -> Column:
    """Regex ``\\w+`` tokenization (certa/local_explain.py:218 WORD)."""
    s = col.cast("string")
    if lowercase:
        s = F.lower(s)
    return F.regexp_extract_all(s, F.lit(TOKEN_PATTERN), 0)


def record_text(cols: list[Column | str]) -> Column:
    """F5 — concatenate attribute values with spaces
    (certa/local_explain.py:140-141 ``record_to_text``)."""
    return F.concat_ws(" ", *[F.col(c) if isinstance(c, str) else c for c in cols])


def side_text(cols: Iterable[str]) -> Column:
    """Attribute values joined by spaces, a null as an empty string."""
    return F.concat_ws(
        " ", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols]
    )


def _tf(tokens: Column, term: Column) -> Column:
    """Term frequency of ``term`` in token array (counts duplicates)."""
    return F.size(F.filter(tokens, lambda x: x == term))


def _sq_norm(tokens: Column) -> Column:
    return F.aggregate(
        F.array_distinct(tokens),
        F.lit(0.0),
        lambda acc, t: acc + F.pow(_tf(tokens, t), F.lit(2.0)),
    )


def _cosine(ta: Column, tb: Column) -> Column:
    dot = F.aggregate(
        F.array_intersect(F.array_distinct(ta), F.array_distinct(tb)),
        F.lit(0.0),
        lambda acc, t: acc + _tf(ta, t) * _tf(tb, t),
    )
    denom = F.sqrt(_sq_norm(ta)) * F.sqrt(_sq_norm(tb))
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot / denom)


def bow_cosine_tokens(ta: Column, tb: Column) -> Column:
    """Cosine of the term-frequency vectors of two token arrays.

    Matches certa/local_explain.py:221-234: dot over the distinct-token
    intersection, L2 norms over each side, 0.0 when either norm is 0.
    ``ta`` and ``tb`` are each evaluated once per row: the one-element
    ``zip_with`` binds them to the lambda variables the formula reads.
    """
    return F.zip_with(F.array(ta), F.array(tb), _cosine)[0]


def bow_cosine(text_a: Column, text_b: Column, lowercase: bool = True) -> Column:
    return bow_cosine_tokens(tokenize(text_a, lowercase), tokenize(text_b, lowercase))


def bow_cosine_of(a_cols: Iterable[str], b_cols: Iterable[str]) -> Column:
    """``bow_cosine`` of the ``side_text`` of two column lists, built
    once per (columns, JVM gateway) and shared by every caller."""
    return _bow_cosine_of(tuple(a_cols), tuple(b_cols), SparkContext._gateway)


@functools.lru_cache(maxsize=64)
def _bow_cosine_of(a_cols: tuple, b_cols: tuple, gateway) -> Column:
    return bow_cosine(side_text(a_cols), side_text(b_cols))


def token_diff(a: Column, b: Column) -> Column:
    """U2 — tokens of ``a`` not in ``b`` (certa/utils.py:75-81 ``diff``);
    returned as an array (the reference renders ``-{...}``/``+{...}``
    strings at the report edge only)."""
    return F.array_except(F.split(a, " "), F.split(b, " "))
