"""The export program (`plans/export.export_reports`) end to end on the
rehearsal generator's corpus, whose planted defects are counted
exactly: observed counters, no counting jobs, version gate, archive,
re-run idempotency and the empty-report guard."""

from __future__ import annotations

import csv
import io
import json
import os
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import report_rehearsal as rr  # noqa: E402

from train_reports_etl_spark.plans import schemas  # noqa: E402
from train_reports_etl_spark.plans.export import VERSION, export_reports  # noqa: E402
from train_reports_etl_spark.sinks.audit import record_version  # noqa: E402
from train_reports_etl_spark.sources import report_reader, xlsx_lite  # noqa: E402


def _export(spark, inbox: str, target: str):
    dep_dim = spark.createDataFrame(
        [(t, f"{6 + i % 16}:00:00") for i, t in enumerate(rr.TRAINS)],
        ["train_number", "departure_time"],
    )
    return export_reports(spark, inbox, target, dep_dim, rr.DATA_DATE, rr.RUN_TS)


def _zip_rows(path: str) -> int:
    n = 0
    with zipfile.ZipFile(path) as zf:
        for member in zf.namelist():
            with zf.open(member) as fh:
                n += max(0, sum(1 for _ in csv.reader(io.TextIOWrapper(fh, "utf-8"))) - 1)
    return n


def _table(target: str, report: str) -> str:
    return os.path.join(target, f"{report}.parquet")


@pytest.fixture(scope="module")
def exported(spark, tmp_path_factory):
    """One run over a generated inbox, with ``DataFrame.count`` and
    ``isEmpty`` refusing to run."""
    work = str(tmp_path_factory.mktemp("export"))
    expected = {
        "tl_err": 0, "tl_dup": 0, "bpd_err": 0, "bpd_clean": 0,
        "occ_err": 0, "occ_dup": 0, "copy2_tickets": [],
    }
    layout = rr.generate(work, 0.04, expected)
    target = os.path.join(work, "target")
    calls: list[str] = []

    def refused(name):
        def call(self, *args, **kwargs):
            calls.append(name)
            raise AssertionError(f"DataFrame.{name} called")

        return call

    frame_cls = type(spark.range(1))
    with pytest.MonkeyPatch.context() as m:
        m.setattr(frame_cls, "count", refused("count"))
        m.setattr(frame_cls, "isEmpty", refused("isEmpty"))
        summary = _export(spark, layout["src"], target)
    return {
        "summary": summary, "expected": expected, "layout": layout,
        "inbox": layout["src"], "target": target, "calls": calls,
    }


def test_program_calls_no_count_or_is_empty(exported):
    summary = exported["summary"]
    assert exported["calls"] == []
    assert [(e.stage, os.path.basename(e.unit)) for e in summary.failures] == [
        ("read", "corrupt.xlsx")
    ]
    exports = [e.report for e in summary.events if e.stage == "export"]
    assert sorted(exports) == sorted(schemas.LOAD)


def test_counters_equal_planted_and_written_counts(spark, exported):
    summary, exp, target = exported["summary"], exported["expected"], exported["target"]
    assert summary.counts == {
        "train_list": {
            "in": exp["tl_total"], "errors": exp["tl_err"],
            "duplicates": exp["tl_dup"], "loaded": exp["tl_clean"],
        },
        "booking_payment_detailed": {
            "in": exp["bpd_clean"] + exp["bpd_err"], "errors": exp["bpd_err"],
            "duplicates": 0, "loaded": exp["bpd_clean"],
        },
        "occupancy_list_hist": {
            "in": exp["occ_total"], "errors": exp["occ_err"],
            "duplicates": exp["occ_dup"], "loaded": exp["occ_clean"],
        },
    }
    qdir = os.path.join(target, "quarantine")
    for report, counts in summary.counts.items():
        assert counts == {
            "in": counts["errors"] + counts["duplicates"] + counts["loaded"],
            "errors": _zip_rows(f"{qdir}/{report} errors {rr.RUN_TS}.csv.zip"),
            "duplicates": _zip_rows(f"{qdir}/{report} duplicates {rr.RUN_TS}.csv.zip"),
            "loaded": spark.read.parquet(_table(target, report)).count(),
        }
    assert json.loads(summary.to_json())["counts"] == summary.counts


def test_newer_recorded_version_raises_before_reading(spark, tmp_path, monkeypatch):
    inbox, target = tmp_path / "inbox", tmp_path / "target"
    inbox.mkdir()
    planted = {"tl_err": 0, "tl_dup": 0, "copy2_tickets": []}
    xlsx_lite.write_xlsx(str(inbox / "tl.xlsx"), {"TL": rr._tl_sheet(0, 10, planted)})
    newer = VERSION[:-1] + (VERSION[-1] + 1,)
    record_version(spark, str(target / "exporter_version.parquet"), newer)
    discovered = []
    monkeypatch.setattr(report_reader, "discover_reports", lambda *a, **k: discovered.append(a))
    with pytest.raises(RuntimeError, match="version gate"):
        _export(spark, str(inbox), str(target))
    assert discovered == []
    assert os.listdir(target) == ["exporter_version.parquet"]
    assert os.listdir(inbox) == ["tl.xlsx"]


def test_loaded_files_are_archived_and_a_rerun_over_them_is_idempotent(spark, exported):
    inbox, target, summary = exported["inbox"], exported["target"], exported["summary"]
    archive = os.path.join(inbox, "data")
    assert sorted(f for f in os.listdir(inbox) if f != "data") == ["corrupt.xlsx"]
    archived = sorted(os.listdir(archive))
    assert len(archived) == exported["layout"]["n_files"] - 1
    states = {r: rr.table_state(spark, _table(target, r)) for r in schemas.LOAD}
    audit_path = os.path.join(target, "audit.parquet")
    n_audit = spark.read.parquet(audit_path).count()

    rerun = _export(spark, archive, target)

    assert not rerun.errors_found
    assert rerun.counts == summary.counts
    assert {r: rr.table_state(spark, _table(target, r)) for r in schemas.LOAD} == states
    assert spark.read.parquet(audit_path).count() == 2 * n_audit
    assert sorted(os.listdir(os.path.join(archive, "data"))) == archived
    versions = spark.read.parquet(os.path.join(target, "exporter_version.parquet")).collect()
    assert [tuple(r.version) for r in versions] == [VERSION, VERSION]


def test_report_with_no_clean_rows_fails_its_export(spark, exported, tmp_path):
    target = exported["target"]
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    planted = {"tl_err": 0, "tl_dup": 0, "copy2_tickets": []}
    rows = rr._tl_sheet(0, 200, planted)
    od = schemas.TRAIN_LIST_HEADER.index("OD")
    for r in rows[3:]:
        r[od] = None
    xlsx_lite.write_xlsx(str(inbox / "bad.xlsx"), {"TL": rows})
    state = rr.table_state(spark, _table(target, "train_list"))
    audit_path = os.path.join(target, "audit.parquet")
    n_audit = spark.read.parquet(audit_path).count()

    summary = _export(spark, str(inbox), target)

    assert [(e.report, e.stage) for e in summary.failures] == [("train_list", "export")]
    assert "no rows with a service_date survived cleaning" in summary.failures[0].error
    assert rr.table_state(spark, _table(target, "train_list")) == state
    assert spark.read.parquet(audit_path).count() == n_audit
    assert os.listdir(inbox) == ["bad.xlsx"]
