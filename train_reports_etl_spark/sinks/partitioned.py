"""Idempotent partitioned table writes (S11) + load orchestration.

The reference achieves idempotent re-runs by DELETE-ing the covered
date range then COPY-ing the new rows
(`reports_exporter_v0.83.py:1328-1343,1422-1434,1513-1528`) — two
non-atomic statements with a failure window (the snapshot CSV is the
recovery path, SURVEY.md §3.3). Spark replaces that with *dynamic
partition overwrite*: one atomic INSERT OVERWRITE that replaces exactly
the partitions present in the incoming frame.

Occupancy's history semantics (delete only rows with ``data_date =
today``, `:1516`) fall out naturally by partitioning on
(date, data_date).

Scale: date-partitioned parquet gives partition pruning on every
downstream date filter; each load day writes only its partitions.

File layout: the frame is rebalanced on the partition columns before
the write (``REBALANCE`` hint). Without it every upstream task writes
one file into every partition value it holds, so a load produces
tasks × dates small files (32 window-shuffle tasks × 6 days = 192
files of ~40 rows each for one report). Rebalancing hash-routes each
partition value to one shuffle partition, and AQE then merges small
partitions and splits skewed ones at the advisory size: a small day
becomes one file, a huge day becomes files of the advisory size. File
count scales with the partition values and their bytes, not with the
parallelism of the plan that produced the frame.
"""

from __future__ import annotations

import datetime as dt
import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from train_reports_etl_spark.driver import bounded_collect


def idempotent_overwrite(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    file_format: str = "parquet",
) -> None:
    """S11 — replace exactly the partitions present in ``df``.

    The dynamic overwrite mode is set as a PER-WRITE option, not
    inherited from the session — on a vanilla session (static mode,
    Spark's default) the session-conf approach would silently wipe
    every untouched partition. The writer option overrides the session
    conf since Spark 3.0, so this sink is session-independent.
    Re-running the same load yields byte-identical table state
    (idempotency test in tests/test_sources_sinks.py).

    The ``rebalance`` hint on ``partition_cols`` makes the file count
    follow the partition values, not the upstream task count (module
    docstring).
    """
    (
        df.hint("rebalance", *partition_cols)
        .write.mode("overwrite")
        .format(file_format)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(path)
    )


#: Row bound of ``load_report``'s distinct-date collect: a century of days.
MAX_LOAD_DATES = 36_600


def _day_ranges(days: list[dt.date]) -> list[tuple[dt.date, dt.date]]:
    """Group dates into sorted (begin, end) runs of consecutive days —
    the reference's walk over the sorted distinct dates
    (`reports_exporter_v0.83.py:1253-1298`). Duplicates are absorbed."""
    ranges: list[list[dt.date]] = []
    for d in sorted(days):
        if ranges and (d - ranges[-1][1]).days <= 1:
            ranges[-1][1] = d
        else:
            ranges.append([d, d])
    return [(a, b) for a, b in ranges]


def load_report(
    df: DataFrame,
    path: str,
    date_col: str,
    partition_cols: list[str] | None = None,
    warn_non_consecutive: bool = True,
) -> list[tuple[str, str]]:
    """Exporter flow (SURVEY.md §3.3): streak detection (W2) →
    idempotent partition overwrite. Returns the (begin, end) date
    ranges covered (the reference logs a warning when >1,
    `reports_exporter_v0.83.py:1321-1325`); NULL dates are ignored.

    The ranges come from one distinct aggregate over ``date_col`` cast
    to date, collected to the driver and grouped there: the collect
    returns one row per distinct date (~365 rows per year loaded) and
    raises :class:`~train_reports_etl_spark.driver.DriverBoundError`
    past :data:`MAX_LOAD_DATES`.
    """
    days = df.select(F.col(date_col).cast("date").alias("d")).where("d IS NOT NULL").distinct()
    rows = bounded_collect(days, MAX_LOAD_DATES, "load_report distinct dates")
    ranges = [(str(a), str(b)) for a, b in _day_ranges([r.d for r in rows])]
    if warn_non_consecutive and len(ranges) > 1:
        logging.getLogger(__name__).warning(
            "load_report: non-consecutive dates — %d ranges: %s", len(ranges), ranges
        )
    idempotent_overwrite(df, path, partition_cols or [date_col])
    return ranges
