"""The export program: the reference's batch main flow as one function
(`reports_exporter_v0.83.py:1662-1875`, SURVEY.md §3.1): version gate →
discover → read → clean, dedup and quarantine → load → audit → archive,
built from ``run_reports``, the report pipelines and the sinks.

Counting costs no job. Errors, duplicates and loaded rows are
``DataFrame.observe`` counters on frames the program writes anyway;
rows in is their sum, since the pipelines split their input exactly
into the three. An observation completes with the first action whose
plan holds it, and comes back empty when AQE drops an empty shuffle
stage, with its metrics, from the final plan. So the quarantine
counters sit at the root of their writes, and the loaded counter (in
the cleaned cache, first run by ``load_report``'s distinct-date
aggregate) is read only when that aggregate found a date. A counter on
raw would come back empty: raw's first action is the train list's
departure-time check, a distinct over the misses, which are normally
none.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from train_reports_etl_spark import __version__
from train_reports_etl_spark.plans import schemas
from train_reports_etl_spark.plans.report_pipelines import (
    ReportResult,
    bpd_pipeline,
    occupancy_pipeline,
    train_list_pipeline,
)
from train_reports_etl_spark.plans.run_summary import RunSummary, run_reports
from train_reports_etl_spark.sinks.archival import archive_inputs
from train_reports_etl_spark.sinks.audit import append_audit, check_version_gate, record_version
from train_reports_etl_spark.sinks.partitioned import load_report
from train_reports_etl_spark.sinks.quarantine import write_quarantine_zip
from train_reports_etl_spark.sources.report_reader import discover_files

VERSION = tuple(int(p) for p in __version__.split("."))


def export_reports(
    spark: SparkSession,
    inbox: str,
    target: str,
    departure_times: DataFrame,
    data_date: str,
    run_ts: str | None = None,
) -> RunSummary:
    """Export every report workbook in ``inbox`` into ``target``.

    ``departure_times`` (train_number, departure_time) and ``data_date``
    (the occupancy snapshot day) are what the reference reads from its
    database and its clock; ``run_ts`` names the quarantine zips
    (default: now).

    Layout under ``target``: one date-partitioned parquet table per
    report (``schemas.LOAD``), ``audit.parquet``,
    ``exporter_version.parquet`` and ``quarantine/<report> errors|
    duplicates <run_ts>.csv.zip``.

    Raises before discovery when the version table records a newer
    engine. Otherwise failures are events on the returned summary: a
    report whose cleaning leaves no row with a load date is a failed
    export (P4, `:606-607`). When any report exported, the engine
    version is recorded and each input file whose sheets all belong to
    exported reports moves to ``<inbox>/data/`` (S13); the rest stay in
    the inbox. Every frame the program persisted is unpersisted.
    """
    version_path = os.path.join(target, "exporter_version.parquet")
    check_version_gate(spark, version_path, VERSION)
    run_ts = run_ts or time.strftime("%Y%m%d-%H%M%S")
    qdir = os.path.join(target, "quarantine")
    counts: dict[str, dict[str, int]] = {}
    persisted: list[DataFrame] = []

    def persist(df: DataFrame) -> DataFrame:
        persisted.append(df.persist())
        return persisted[-1]

    def exporter(report: str, res: ReportResult) -> None:
        counters: dict[str, Observation] = {}
        os.makedirs(qdir, exist_ok=True)
        for kind, df in (("errors", res.error_rows), ("duplicates", res.duplicates)):
            write_quarantine_zip(_observed(df, counters, kind), qdir, report, kind, run_ts)
        cleaned = persist(_observed(res.cleaned, counters, "loaded"))
        date_col, partition_cols = schemas.LOAD[report]
        ranges = load_report(
            cleaned, os.path.join(target, f"{report}.parquet"), date_col, partition_cols
        )
        if not ranges:
            # An empty frame's overwrite above replaced no partition.
            raise ValueError(f"{report}: no rows with a {date_col} survived cleaning")
        n = {k: o.get["rows"] for k, o in counters.items()}
        counts[report] = {"in": sum(n.values())} | n
        append_audit(
            spark,
            os.path.join(target, "audit.parquet"),
            report,
            "load",
            [f"{a}..{b}" for a, b in ranges],
        )

    pipelines = {
        "train_list": lambda raw: train_list_pipeline(persist(raw), departure_times),
        "booking_payment_detailed": lambda raw: bpd_pipeline(persist(raw)),
        "occupancy_list_hist": lambda raw: occupancy_pipeline(persist(raw), data_date),
    }
    try:
        summary = run_reports(spark, inbox, pipelines, exporter)
    finally:
        for df in persisted:
            df.unpersist()
    summary.counts = counts

    exported = {e.report for e in summary.events if e.stage == "export" and e.ok}
    if exported:
        record_version(spark, version_path, VERSION)
        archive_inputs(
            [p for p in discover_files(inbox) if _exported_whole(summary, p, exported)],
            os.path.join(inbox, "data"),
        )
    return summary


def _observed(df: DataFrame, counters: dict[str, Observation], name: str) -> DataFrame:
    """``df`` counting its rows into a new observation ``counters[name]``."""
    obs = counters[name] = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows"))


def _exported_whole(summary: RunSummary, path: str, exported: set[str]) -> bool:
    """Every read event of ``path`` (the file itself or one of its
    sheets) succeeded and belongs to an exported report."""
    reads = [
        e
        for e in summary.events
        if e.stage == "read" and (e.unit == path or e.unit.startswith(path + "#"))
    ]
    return bool(reads) and all(e.ok and e.report in exported for e in reads)
