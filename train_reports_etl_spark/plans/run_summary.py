"""Run-level error aggregation: one artifact summarizing a whole run.

The reference keeps two log files (general + warnings-and-above,
`reports_exporter_v0.83.py:1883-1899`), flips a global ``errors_found``
flag from its logger shim (`:192-231` ``prt_info`` — any WARNING+
records to the error log and sets the flag), and pops an end-of-run
alert telling the operator whether to read the error log
(`:1860-1875``). Here the same contract is a value, not a dialog: every
per-sheet/per-report stage outcome is recorded as a :class:`RunEvent`,
and the run returns a :class:`RunSummary` the caller can assert on,
serialize, or turn into a DataFrame for an audit sink.

Scale note: the summary is O(#sheets) driver-side metadata (a few
thousand rows at most) — never row-level data. The data itself flows
through the lazy pipelines untouched.
"""

from __future__ import annotations

import json
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from train_reports_etl_spark.plans.report_pipelines import ReportResult


@dataclass
class RunEvent:
    """Outcome of one stage (read / pipeline / export) for one unit."""

    report: str
    stage: str  # "read" | "pipeline" | "export"
    unit: str  # file path, "path#sheet", or report name
    ok: bool
    error: str | None = None

    def as_row(self) -> dict:
        return {
            "report": self.report,
            "stage": self.stage,
            "unit": self.unit,
            "ok": self.ok,
            "error": self.error,
        }


@dataclass
class RunSummary:
    """The end-of-run artifact (reference ``errors['errors_found']`` +
    error log, aggregated)."""

    events: list[RunEvent] = field(default_factory=list)
    results: dict[str, ReportResult] = field(default_factory=dict)

    @property
    def errors_found(self) -> bool:
        return any(not e.ok for e in self.events)

    @property
    def failures(self) -> list[RunEvent]:
        return [e for e in self.events if not e.ok]

    def record(self, report: str, stage: str, unit: str, exc: Exception | None = None) -> None:
        err = None
        if exc is not None:
            # Reference logs the failing line number (`get_error_line`,
            # `:1739-1742`); keep the exception head + last frame.
            tb = traceback.extract_tb(exc.__traceback__)
            where = f" @ {tb[-1].filename}:{tb[-1].lineno}" if tb else ""
            err = f"{type(exc).__name__}: {exc}{where}"[:500]
        self.events.append(RunEvent(report, stage, unit, exc is None, err))

    def frame(self, spark: SparkSession) -> DataFrame:
        """The summary as a tiny DataFrame (for the audit sink, S12)."""
        schema = "report string, stage string, unit string, ok boolean, error string"
        return spark.createDataFrame([e.as_row() for e in self.events], schema=schema)

    def to_json(self) -> str:
        return json.dumps(
            {
                "errors_found": self.errors_found,
                "n_events": len(self.events),
                "n_failures": len(self.failures),
                "events": [e.as_row() for e in self.events],
            },
            indent=2,
        )


def run_reports(
    spark: SparkSession,
    directory: str,
    pipelines: dict[str, Callable[[DataFrame], ReportResult]],
    exporter: Callable[[str, ReportResult], None] | None = None,
) -> RunSummary:
    """Discover → read → pipeline → (optionally) export every report in
    ``directory``, aggregating per-stage failures instead of aborting
    (reference orchestration `reports_exporter_v0.83.py:1744-1840`:
    each report's read and export is its own try/except; the run always
    reaches the end-of-run summary).

    A sheet that fails its sniff skips only that sheet (remaining sheets
    of the report still union — the reference's per-file error
    handling, `:1652-1687`); a failed data read, pipeline or export
    skips only that report.
    """
    from train_reports_etl_spark.sources.report_reader import discover_reports, read_report

    summary = RunSummary()
    try:
        # Per-file and per-sheet isolation (reference `:1652-1687`): a
        # corrupt workbook or sheet becomes one read-failure event; the
        # run continues.
        found = discover_reports(
            directory,
            on_error=lambda path, exc: summary.record("*", "read", path, exc),
        )
    except Exception as exc:  # noqa: BLE001 — a bad directory is one event
        summary.record("*", "read", directory, exc)
        return summary

    for report, refs in found.items():
        for ref in refs:
            summary.record(report, "read", f"{ref.path}#{ref.sheet}")
        pipeline = pipelines.get(report)
        if pipeline is None:
            # Reference: "Exportation ... not implemented yet" warning
            # (`:1822-1826`) — counts as a run warning, not a crash.
            summary.record(
                report, "pipeline", report,
                NotImplementedError(f"no pipeline registered for {report!r}"),
            )
            continue
        try:
            raw = read_report(spark, refs)
            result = pipeline(raw)
            summary.results[report] = result
            summary.record(report, "pipeline", report)
        except Exception as exc:  # noqa: BLE001
            summary.record(report, "pipeline", report, exc)
            continue
        if exporter is not None:
            try:
                exporter(report, result)
                summary.record(report, "export", report)
            except Exception as exc:  # noqa: BLE001
                summary.record(report, "export", report, exc)
    return summary
