"""Specialized joins Spark lacks natively.

As-of join (point-in-time): for each left row, the latest right row with
right.ts <= left.ts within the same key. Implemented as a union + window
carry-forward — one shuffle on (key), no range explosion:

    tag rows (left=1/right=0) -> union -> window by key ordered by
    (ts, side) -> last non-null right value seen so far -> keep left rows.

This scales to arbitrarily large sides (contrast with per-group
``pd.merge_asof`` in applyInPandas, which needs a whole group in memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str = "ts",
    right_value_cols: tuple[str, ...] = ("value",),
    suffix: str = "_asof",
) -> DataFrame:
    """left rows + the most recent right row's value columns (ts_right <=
    ts_left), matched within ``on``. Right-side columns are suffixed."""
    lcols = left.columns
    l = left.withColumn("_side", F.lit(1))
    r = right.select(
        on, ts, *right_value_cols
    ).withColumn("_side", F.lit(0))

    # align schemas for the union
    for c in lcols:
        if c not in r.columns:
            r = r.withColumn(c, F.lit(None))
    for c in right_value_cols:
        if c not in l.columns:
            l = l.withColumn(c, F.lit(None))
    cols = list(dict.fromkeys(lcols + [ts, "_side"] + list(right_value_cols)))
    u = l.select(*cols).unionByName(r.select(*cols))

    # right rows sort BEFORE left rows at equal ts (side 0 < 1), so an
    # exactly-simultaneous right row is visible to the left row
    w = (
        Window.partitionBy(on)
        .orderBy(F.col(ts).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = u
    for c in right_value_cols:
        carried = F.last(
            F.when(F.col("_side") == 0, F.col(c)), ignorenulls=True
        ).over(w)
        out = out.withColumn(c + suffix, carried)
    return (
        out.filter(F.col("_side") == 1)
        .select(*lcols, *[c + suffix for c in right_value_cols])
    )
