"""Pipeline observability via Spark's Observation API.

A 100TB curation run needs per-stage row accounting (how many docs
each filter dropped) WITHOUT paying one count() action per stage —
`df.observe` attaches aggregate metrics that piggyback on whatever
action the pipeline already runs, so the accounting is free.

Reference parity note: the reference logs pandas len() calls inline
(free on a single node, an extra full pass per stage on a cluster) —
this is the Spark-native replacement.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def observed_filter(
    df: DataFrame, name: str, cond: Column
) -> tuple[DataFrame, Observation]:
    """Filter with free in/kept accounting: returns (filtered_df, obs)
    where ``obs.get`` (AFTER an action) yields ``{name}_in`` and
    ``{name}_kept``. The observe node sees pre-filter rows, so both
    counts ride the same single pass."""
    obs = Observation(name)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias(f"{name}_in"),
        F.sum(cond.cast("long")).alias(f"{name}_kept"),
    )
    return observed.filter(cond), obs


def funnel_report(observations: list[Observation]) -> dict[str, int]:
    """Merge stage observations into one {metric: value} funnel dict
    (call after the pipeline's action has run)."""
    out: dict[str, int] = {}
    for ob in observations:
        for k, v in ob.get.items():
            out[k] = int(v) if v is not None else 0
    return out


def checkpoint_observed(
    df: DataFrame, **metrics: Column
) -> tuple[DataFrame, dict]:
    """``df.localCheckpoint()`` plus aggregate ``metrics`` over its rows,
    computed by the checkpoint's own job: returns (checkpointed_df,
    {name: value}), with no extra count() pass."""
    obs = Observation()
    done = df.observe(
        obs, *(c.alias(name) for name, c in metrics.items())
    ).localCheckpoint()
    return done, dict(obs.get)
