"""Window-function operators — fills the reference's biggest gap
(SURVEY §2: "Window functions: none in the reference").

All helpers take and return the engine's ``Df`` and compile to
``pyspark.sql.Window`` specs: distributed hash-partition by the
partition keys + in-partition sort, no driver involvement. At 100 TB
the shuffle is on the partition keys — same cost profile as a groupBy
on those keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from ..frame import Df


def _order_cols(order_by: Sequence[str | Column], descending: bool) -> list[Column]:
    cols = []
    for o in order_by:
        if isinstance(o, Column):
            cols.append(o)
        else:
            cols.append(F.col(o).desc() if descending else F.col(o).asc())
    return cols


def _normalize_specs(
    order_by: Sequence, descending: bool
) -> list[tuple[Column, bool]] | None:
    """Normalize order specs to ``(direction-free column, ascending)``.
    Returns None when an entry is a bare Column (its direction can't be
    introspected), which forces the single-window fallback."""
    specs: list[tuple[Column, bool]] = []
    for o in order_by:
        if isinstance(o, str):
            specs.append((F.col(o), not descending))
        elif isinstance(o, tuple):
            col, asc = o
            specs.append((F.col(col) if isinstance(col, str) else col, bool(asc)))
        else:
            return None
    return specs


def top_k_per_group(
    df: Df,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column | tuple[str | Column, bool]],
    k: int,
    descending: bool = True,
    rank_col: str = "rn",
    local_prefilter: bool = False,
) -> Df:
    """Top-K rows per group. Include a unique tiebreaker in ``order_by``
    for deterministic output.

    The default path is a single ``row_number`` window + ``rn <= k``
    filter: Catalyst rewrites that into ``WindowGroupLimit Partial``
    (per-input-partition top-k, before any exchange) + a shuffle of only
    ~partitions*groups*k survivors + the final window — i.e. the
    two-phase skew-free plan, entirely JVM-side. A low-cardinality
    partition key therefore does NOT funnel the full table through a
    handful of tasks, and nothing crosses the Python boundary.

    ``local_prefilter=True`` opts into an explicit accumulating
    Arrow-batched ``mapInPandas`` local top-k (bounded memory of
    ~groups*k rows plus one batch) before the global window — useful
    when the rank-limit rewrite can't apply. Order specs may be column
    names (direction from ``descending``) or ``(column, ascending)``
    tuples; bare Column sort-specs (e.g. ``col.desc()``) can't be
    introspected for the pandas phase and fall back to the single
    window. Null ordering matches Spark (asc → nulls first, desc →
    nulls last); pandas cannot distinguish null from NaN in float keys,
    so NaN-laden float order keys should use the default path.
    """
    specs = _normalize_specs(order_by, descending)
    if specs is None or not local_prefilter:
        if specs is None:
            order_cols = _order_cols(order_by, descending)
        else:
            order_cols = [c.asc() if asc else c.desc() for c, asc in specs]
        w = Window.partitionBy(*partition_by).orderBy(*order_cols)
        sdf = (
            df.to_spark()
            .withColumn(rank_col, F.row_number().over(w))
            .filter(F.col(rank_col) <= k)
        )
        return Df.from_spark(sdf)

    sdf = df.to_spark()
    keys = list(partition_by)
    sk_cols = [f"__sk{i}" for i in range(len(specs))]
    asc_flags = [asc for _, asc in specs]
    prepared = sdf.select("*", *[c.alias(n) for (c, _), n in zip(specs, sk_cols)])
    out_schema = prepared.schema

    def local_topk(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            cur = pdf if acc is None else pd.concat([acc, pdf], ignore_index=True)
            # successive stable sorts (last key first) give the multi-key
            # order while honoring per-direction null placement
            for name, asc in reversed(list(zip(sk_cols, asc_flags))):
                cur = cur.sort_values(
                    by=name,
                    ascending=asc,
                    kind="mergesort",
                    na_position="first" if asc else "last",
                )
            acc = cur.groupby(keys, sort=False, dropna=False).head(k)
        if acc is not None:
            yield acc

    survivors = prepared.mapInPandas(local_topk, schema=out_schema)
    order_cols = [
        F.col(n).asc() if asc else F.col(n).desc()
        for n, asc in zip(sk_cols, asc_flags)
    ]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    ranked = (
        survivors.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
        .drop(*sk_cols)
    )
    return Df.from_spark(ranked)


def with_running_agg(
    df: Df,
    partition_by: Sequence[str],
    order_by: Sequence[str | Column],
    agg_col: str | Column,
    agg: str = "sum",
    out: str = "running",
    rows_frame: bool = False,
) -> Df:
    """Cumulative aggregate (unbounded-preceding → current row)."""
    w = Window.partitionBy(*partition_by).orderBy(*_order_cols(order_by, False))
    if rows_frame:
        w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    col = F.col(agg_col) if isinstance(agg_col, str) else agg_col
    fn = {"sum": F.sum, "avg": F.avg, "count": F.count, "min": F.min, "max": F.max}[agg]
    return Df.from_spark(df.to_spark().withColumn(out, fn(col).over(w)))
