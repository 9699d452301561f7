"""As-of (backward) join — host-surface extension operator.

Spark has no native ASOF JOIN (DuckDB does). This is the sort-merge
as-of: tag both sides, UNION them, sort each key's rows by (ts, side,
order) inside ONE window shuffle, and carry the latest right payload
forward with ``last(..., ignorenulls=True)``. O(left + right) rows,
**no fan-out**, no Python — declarative AND safe when a key has
unboundedly many right rows. Skew caveat (shared with every per-key
window): one pathological key sorts in one task; shard such a key by
coarse time range and carry each shard's last right row into the next
if that ever binds.

Ties on the right timestamp are broken by the largest ``right_order``
column. Left rows with no right row at or before them are dropped
(inner semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    right_order: str,
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts`` <= ``left_ts`` for the same key (backward as-of)."""
    clash = {c for c in right_cols if c != right_key} & set(left.columns)
    if clash:
        raise ValueError(
            f"right_cols {sorted(clash)} collide with left columns; "
            "rename them on the right side before the as-of join"
        )
    keep_right = [c for c in right_cols if c != right_key]
    ts_type = left.schema[left_ts].dataType
    # side 0 sorts right rows BEFORE left rows on an equal timestamp,
    # which is exactly the `right_ts <= left_ts` (inclusive) contract;
    # among equal-ts right rows the ascending right_order sort makes
    # last() pick the LARGEST order — the module's tie rule.
    r = right.select(
        F.col(right_key).alias("__k"),
        F.col(right_ts).cast(ts_type).alias("__t"),
        F.lit(0).alias("__side"),
        F.col(right_order).alias("__ord"),
        F.struct(*[F.col(c) for c in keep_right]).alias("__payload"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left.columns],
    )
    l = left.select(
        F.col(left_key).alias("__k"),
        F.col(left_ts).cast(ts_type).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[right_order].dataType).alias("__ord"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        *left.columns,
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side", "__ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = r.unionByName(l).withColumn(
        "__m", F.last("__payload", ignorenulls=True).over(w)
    )
    return (
        matched.filter((F.col("__side") == 1) & F.col("__m").isNotNull())
        .select(
            *left.columns,
            *[F.col("__m")[c].alias(c) for c in keep_right],
        )
    )
