"""Zero-cost pipeline observability via ``df.observe``.

A 100 TB pipeline needs row counts / null counts / value totals at each
stage for monitoring and data-quality gates — but a separate
``df.count()`` per stage would re-run the stage. ``Observation``
attaches accumulator-backed metric expressions to the plan
(a ``CollectMetrics`` node): the metrics are computed DURING the one
real pass and cost nothing extra — no second scan, no extra shuffle.

Only deterministic, shuffle-insensitive aggregates belong here
(count/sum/min/max over the rows that actually flow); the helper
rejects nothing at the API level but the test pins the contract that
observed metrics equal a separately-computed aggregate.

The operators use the same mechanism for their size gates: an eager
checkpoint's own job observes the row count (and any sums) a gate
needs, so no gate runs a ``count()`` — 2 more jobs each — on a frame
that was just materialized.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def with_metrics(
    df: DataFrame, name: str, *metrics: Column
) -> tuple[DataFrame, Observation]:
    """Attach named metric expressions to ``df``'s plan. Returns the
    (unchanged-semantics) frame and the ``Observation`` — read
    ``obs.get`` AFTER an action has materialized the frame."""
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def observed_checkpoint(df: DataFrame, **sums: Column) -> DataFrame:
    """``df.localCheckpoint(eager=True)`` with its row count and the
    named ``sums`` observed by the checkpoint's own job — a size gate
    reads them with :func:`observed` instead of running a ``count()``
    (2 more jobs) on the materialized frame. The values travel with the
    returned frame object, so a memo hit on it still carries them."""
    obs = Observation()
    out = df.observe(
        obs, F.count(F.lit(1)).alias("rows"),
        *[F.sum(c).alias(name) for name, c in sums.items()],
    ).localCheckpoint(eager=True)
    return with_observed(out, **obs.get)


def with_observed(df: DataFrame, **values: int) -> DataFrame:
    """Attach already-known sizes (``rows`` and named sums) to ``df``
    for :func:`observed` — for frames built from driver-side data, or
    sizes known from another job. Adds to any values ``df`` carries."""
    df._observed = {**getattr(df, "_observed", {}), **values}
    return df


def observed(df: DataFrame, name: str = "rows") -> int:
    """A size observed when ``df`` was checkpointed (see
    :func:`observed_checkpoint`). A frame that carries none is counted
    — so ad-hoc callers still work, at the price of the count job."""
    values = getattr(df, "_observed", None)
    if values is None and name == "rows":
        return df.count()
    if values is None or name not in values:
        raise KeyError(f"frame carries no observed {name!r}")
    return values[name] or 0  # a sum over no rows is null
