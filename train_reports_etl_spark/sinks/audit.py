"""Audit-trail sink (S12) and version gate (S7).

The reference inserts one audit row per loaded day — (timestamp, table,
operation, period, user) — after every export
(`reports_exporter_v0.83.py:1384-1394`) and refuses to run when the DB
records a newer exporter version (`:243-283`).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from train_reports_etl_spark.driver import local_frame

AUDIT_SCHEMA = "ts timestamp, table_name string, operation string, period string, user string"


def append_audit(
    spark: SparkSession,
    path: str,
    table_name: str,
    operation: str,
    periods: list[str],
    user: str = "etl",
) -> None:
    """S12 — append one audit row per covered period (atomic parquet
    append; an append-only table never conflicts with concurrent loads
    of other reports). The rows form a local frame coalesced to one
    partition, so each append writes a single file."""
    rows = [(table_name, operation, p, user) for p in periods]
    df = (
        local_frame(spark, rows, "table_name string, operation string, period string, user string")
        .withColumn("ts", F.current_timestamp())
        .select("ts", "table_name", "operation", "period", "user")
        .coalesce(1)
    )
    df.write.mode("append").parquet(path)


def check_version_gate(spark: SparkSession, path: str, my_version: tuple[int, ...]) -> None:
    """S7 — abort when a newer engine version has already run
    (`reports_exporter_v0.83.py:243-283`): global MAX over the version
    control table, driver-side guard.

    Versions are integer tuples stored as ``array<int>``, which Spark
    orders element by element, so 0.10 is newer than 0.9 (as floats
    it would be older).

    Only a *missing* table means "first run"; a corrupt or unreadable
    one re-raises — silently skipping the gate on read failure would
    disable the exact safety the reference enforces."""
    from pyspark.errors import AnalysisException

    try:
        versions = spark.read.parquet(path)
    except AnalysisException as e:
        cond = e.getCondition() if hasattr(e, "getCondition") else e.getErrorClass()
        if (cond or "") == "PATH_NOT_FOUND":
            return  # first run: no version table yet
        raise
    row = versions.agg(F.max("version").alias("v")).head()
    if row and row.v is not None and tuple(row.v) > my_version:
        newer = ".".join(map(str, row.v))
        mine = ".".join(map(str, my_version))
        raise RuntimeError(
            f"version gate: DB records v{newer} > this engine v{mine}; refusing to run"
        )


def record_version(spark: SparkSession, path: str, version: tuple[int, ...]) -> None:
    """Append this engine's version to the version control table."""
    df = local_frame(spark, [(list(version),)], "version array<int>").withColumn(
        "ts", F.current_timestamp()
    )
    df.write.mode("append").parquet(path)
