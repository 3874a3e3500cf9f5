"""Gaps-and-islands: consecutive-date streak detection (W2).

The reference walks a sorted python list of distinct dates and emits
``[begin, end]`` pairs of consecutive-day runs
(`reports_exporter_v0.83.py:1253-1298`); >1 pair triggers the
"non-consecutive dates" warning (`:1321-1325`). Distributed form: the
classic lag/cumsum island construction — distinct dates are tiny after
aggregation (one row per day), so the single-partition window is a
non-issue even at 100 TB of underlying rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def consecutive_date_ranges(df: DataFrame, date_col: Column | str) -> DataFrame:
    """W2 — collapse distinct dates into runs of consecutive days.

    Returns a DataFrame ``(range_start date, range_end date, n_days int)``,
    one row per island, ordered by start. The expensive step — distinct
    over the raw rows — is a hash aggregate with map-side partial
    dedup; the window then runs over ≤ thousands of rows.
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    dates = df.select(c.cast("date").alias("d")).where(F.col("d").isNotNull()).distinct()
    w = Window.orderBy("d")
    islands = dates.withColumn(
        "island",
        F.sum(
            F.when(F.datediff(F.col("d"), F.lag("d").over(w)) == 1, F.lit(0)).otherwise(F.lit(1))
        ).over(w),
    )
    return (
        islands.groupBy("island")
        .agg(
            F.min("d").alias("range_start"),
            F.max("d").alias("range_end"),
            F.count("*").cast("int").alias("n_days"),
        )
        .drop("island")
        .orderBy("range_start")
    )

