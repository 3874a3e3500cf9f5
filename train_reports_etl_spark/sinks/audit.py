"""Audit-trail sink (S12) and version gate (S7).

The reference inserts one audit row per loaded day — (timestamp, table,
operation, period, user) — after every export
(`reports_exporter_v0.83.py:1384-1394`) and refuses to run when the DB
records a newer exporter version (`:243-283`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
    of other reports). The frame holds one row per period and is built
    from a single slice, so each append writes a single file; a
    ``coalesce(1)`` over the default slices does the same at twice the
    wall time."""
    rows = spark.sparkContext.parallelize([(table_name, operation, p, user) for p in periods], 1)
    df = (
        spark.createDataFrame(rows, "table_name string, operation string, period string, user string")
        .withColumn("ts", F.current_timestamp())
        .select("ts", "table_name", "operation", "period", "user")
    )
    df.write.mode("append").parquet(path)


def read_audit(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def check_version_gate(spark: SparkSession, path: str, my_version: float) -> None:
    """S7 — abort when a newer engine version has already run
    (`reports_exporter_v0.83.py:243-283`): global MAX over the version
    control table, driver-side guard.

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
    if row and row.v is not None and float(row.v) > my_version:
        raise RuntimeError(
            f"version gate: DB records v{row.v} > this engine v{my_version}; refusing to run"
        )


def record_version(spark: SparkSession, path: str, version: float) -> None:
    df = spark.createDataFrame([(version,)], "version double").withColumn(
        "ts", F.current_timestamp()
    )
    df.write.mode("append").parquet(path)
