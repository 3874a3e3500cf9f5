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
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from train_reports_etl_spark.operators.islands import consecutive_date_ranges


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
    """
    (
        df.write.mode("overwrite")
        .format(file_format)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .save(path)
    )


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
    `reports_exporter_v0.83.py:1321-1325`).
    """
    ranges = [
        (str(r.range_start), str(r.range_end))
        for r in consecutive_date_ranges(df, date_col).collect()
    ]
    if warn_non_consecutive and len(ranges) > 1:
        import logging

        logging.getLogger(__name__).warning(
            "load_report: non-consecutive dates — %d ranges: %s", len(ranges), ranges
        )
    idempotent_overwrite(df, path, partition_cols or [date_col])
    return ranges

