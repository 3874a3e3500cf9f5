"""Excel ingest path (S1–S4, S13): xlsx_lite round-trip, discover →
sniff → read end-to-end on generated fixtures, tiered executor read,
and input archival."""

from __future__ import annotations

import zipfile

from train_reports_etl_spark.plans.report_pipelines import ReportResult
from train_reports_etl_spark.plans.run_summary import run_reports
from train_reports_etl_spark.plans.schemas import HEADERS, TRAIN_LIST_HEADER
from train_reports_etl_spark.sinks.archival import archive_inputs
from train_reports_etl_spark.sources import report_reader, xlsx_lite
from train_reports_etl_spark.sources.report_reader import (
    MIN_ROWS_PER_TASK,
    SheetRef,
    discover_reports,
    read_report,
    tier_plan,
)
from train_reports_etl_spark.sources.sniffer import SniffResult


def test_xlsx_lite_roundtrip(tmp_path):
    rows = [
        ["a&b <c>", 1, 2.5, True, None, "tail"],
        [],  # entirely empty row must survive as a gap
        [None, "x"],
        ["", 0],
    ]
    path = xlsx_lite.write_xlsx(str(tmp_path / "t.xlsx"), {"S1": rows, "Später": [["ü"]]})
    assert xlsx_lite.sheet_names(path) == ["S1", "Später"]
    got = list(xlsx_lite.iter_rows(path, "S1"))
    assert got[0] == ["a&b <c>", 1, 2.5, True, None, "tail"]
    assert got[1] == []
    assert got[2] == [None, "x"]
    assert got[3] == ["", 0]
    assert list(xlsx_lite.iter_rows(path, "Später")) == [["ü"]]
    assert xlsx_lite.sheet_max_row(path, "S1") == 4
    # bounded range read (the S4 tier primitive)
    assert list(xlsx_lite.iter_rows(path, "S1", min_row=3, max_row=3)) == [[None, "x"]]


def _tl_fixture_rows(n=3):
    """Title + blank + exact header + n data rows (ticket Txxxx)."""
    width = len(TRAIN_LIST_HEADER)
    data = []
    for i in range(n):
        row = [""] * width
        row[TRAIN_LIST_HEADER.index("Departure Date")] = "2024-03-05 10:30:00"
        row[TRAIN_LIST_HEADER.index("Train Number")] = "AB123"
        row[TRAIN_LIST_HEADER.index("OD")] = "XX-YY"
        row[TRAIN_LIST_HEADER.index("Ticket Number")] = f"T{i:04d}"
        data.append(row)
    return [["Train List Report", None], [], list(TRAIN_LIST_HEADER)] + data


def test_discover_sniff_read_end_to_end(spark, tmp_path):
    xlsx_lite.write_xlsx(
        str(tmp_path / "march.xlsx"),
        {"TL": _tl_fixture_rows(3), "notes": [["not a report"], ["at all"]]},
    )
    xlsx_lite.write_xlsx(str(tmp_path / "occ.xlsx"), {"O": [list(HEADERS["occupancy_list_hist"])]})

    found = discover_reports(str(tmp_path))
    assert set(found) == {"train_list", "occupancy_list_hist"}
    [ref] = found["train_list"]
    assert ref.sheet == "TL" and ref.sniff.header_row == 2

    df = read_report(spark, found["train_list"])
    assert df.columns == list(TRAIN_LIST_HEADER)
    assert df.schema["Ticket Number"].dataType.simpleString() == "string"
    tickets = sorted(r["Ticket Number"] for r in df.collect())
    assert tickets == ["T0000", "T0001", "T0002"]


def test_tier_plan_reference_constants():
    # below the 3000-row floor: a single tier
    assert tier_plan(2, 100, 4) == [(2, 100)]
    # 9000 rows, 3 tiers max: three 3000-row tiers, exact disjoint cover
    tiers = tier_plan(1, 9000, 3)
    assert tiers == [(1, 3000), (3001, 6000), (6001, 9000)]
    # the tier cap binds before the row floor on huge inputs
    tiers = tier_plan(1, 10 * MIN_ROWS_PER_TASK, 4)
    assert len(tiers) == 4
    # any plan covers the range exactly, in order, without overlap
    flat = [r for t in tiers for r in range(t[0], t[1] + 1)]
    assert flat == list(range(1, 10 * MIN_ROWS_PER_TASK + 1))
    assert tier_plan(5, 4, 4) == []


def test_distributed_read_matches_written_rows(spark, tmp_path, monkeypatch):
    """S4: every (file, sheet, row-tier) is one RDD task; the frame
    holds exactly the rows the fixture wrote, on a multi-file,
    multi-sheet fixture with NULL gaps and several tiers per sheet."""
    monkeypatch.setattr(report_reader, "MIN_ROWS_PER_TASK", 8)
    width = len(TRAIN_LIST_HEADER)
    written = []

    def sheet_rows(tag, n):
        data = []
        for i in range(n):
            row = [f"{tag}{i}"] + [""] * (width - 1)
            row[2] = None  # NULL gap must survive the round trip
            data.append(row)
        written.extend(tuple(r) for r in data)
        return [["junk title"], list(TRAIN_LIST_HEADER)] + data

    xlsx_lite.write_xlsx(
        str(tmp_path / "a.xlsx"), {"S1": sheet_rows("a", 40), "S2": sheet_rows("b", 25)}
    )
    xlsx_lite.write_xlsx(str(tmp_path / "b.xlsx"), {"S1": sheet_rows("c", 10)})
    refs = discover_reports(str(tmp_path))["train_list"]
    assert [(r.sheet, r.sniff.header_row) for r in refs] == [("S1", 1), ("S2", 1), ("S1", 1)]

    df = read_report(spark, refs)
    assert df.columns == list(TRAIN_LIST_HEADER)
    assert sorted(tuple(r) for r in df.collect()) == sorted(written)
    # the read really fans out: at least one RDD partition per tier
    parallelism = spark.sparkContext.defaultParallelism
    n_tiers = sum(len(tier_plan(3, 2 + n, parallelism)) for n in (40, 25, 10))
    assert df.rdd.getNumPartitions() >= n_tiers > len(refs)


def test_distributed_read_mixed_headers_union_by_name(spark, tmp_path, monkeypatch):
    """Sheets with different sniffed headers group into separate RDD
    jobs and union by name."""
    monkeypatch.setattr(report_reader, "MIN_ROWS_PER_TASK", 2)
    h1 = ["x", "y"]
    h2 = ["y", "x"]  # same names, different order → by-name union
    p = xlsx_lite.write_xlsx(
        str(tmp_path / "m.xlsx"),
        {
            "A": [h1] + [[f"ax{i}", f"ay{i}"] for i in range(5)],
            "B": [h2] + [[f"by{i}", f"bx{i}"] for i in range(4)],
        },
    )
    refs = [
        SheetRef(p, "A", SniffResult("t", 0, tuple(h1))),
        SheetRef(p, "B", SniffResult("t", 0, tuple(h2))),
    ]
    df = read_report(spark, refs)
    assert sorted(df.columns) == ["x", "y"]
    rows = sorted((r["x"], r["y"]) for r in df.collect())
    want = [(f"ax{i}", f"ay{i}") for i in range(5)] + [(f"bx{i}", f"by{i}") for i in range(4)]
    assert rows == sorted(want)


def test_header_none_cell_reads_as_unnamed(spark, tmp_path):
    """A blank header cell still sniffs (None drops out of the match)
    and names its column ``Unnamed: <i>`` from the sniffed header."""
    header = [TRAIN_LIST_HEADER[0], None, *TRAIN_LIST_HEADER[1:]]
    data = [f"v{i}" for i in range(len(header))]
    xlsx_lite.write_xlsx(str(tmp_path / "gap.xlsx"), {"TL": [header, data]})
    [ref] = discover_reports(str(tmp_path))["train_list"]
    columns = [TRAIN_LIST_HEADER[0], "Unnamed: 1", *TRAIN_LIST_HEADER[1:]]
    assert list(ref.sniff.header) == columns

    df = read_report(spark, [ref])
    assert df.columns == columns
    assert [tuple(r) for r in df.collect()] == [tuple(data)]


def _truncate_part(path: str, part: str) -> None:
    """Rewrite the workbook with ``part`` cut to half its bytes."""
    with zipfile.ZipFile(path) as zf:
        parts = {name: zf.read(name) for name in zf.namelist()}
    parts[part] = parts[part][: len(parts[part]) // 2]
    with zipfile.ZipFile(path, "w") as zf:
        for name, blob in parts.items():
            zf.writestr(name, blob)


def test_bad_sheet_skips_only_that_sheet(tmp_path):
    """Per-sheet isolation: a sheet whose XML is truncated is reported
    as ``path#sheet`` and the later sheets of its workbook still sniff;
    an unreadable workbook stays one file-level event."""
    book = xlsx_lite.write_xlsx(
        str(tmp_path / "book.xlsx"),
        {"S1": _tl_fixture_rows(1), "S2": _tl_fixture_rows(1), "S3": _tl_fixture_rows(1)},
    )
    _truncate_part(book, "xl/worksheets/sheet2.xml")
    (tmp_path / "corrupt.xlsx").write_bytes(b"not a zip archive")

    errors = []
    found = discover_reports(str(tmp_path), on_error=lambda unit, exc: errors.append(unit))
    assert [r.sheet for r in found["train_list"]] == ["S1", "S3"]
    assert errors == [f"{book}#S2", str(tmp_path / "corrupt.xlsx")]


def test_run_reports_reads_each_sheet_once_on_the_driver(spark, tmp_path, monkeypatch):
    """The sniff is the only driver-side row read: no header re-probe,
    and the data rows are read by executor tasks."""
    for f in range(2):
        xlsx_lite.write_xlsx(
            str(tmp_path / f"tl{f}.xlsx"), {"A": _tl_fixture_rows(3), "B": _tl_fixture_rows(2)}
        )
    calls = []
    iter_rows = xlsx_lite.iter_rows

    def counting(path, sheet, *args, **kwargs):
        calls.append((path, sheet))
        return iter_rows(path, sheet, *args, **kwargs)

    monkeypatch.setattr(xlsx_lite, "iter_rows", counting)

    def pipeline(raw):
        assert raw.count() == 10
        empty = raw.limit(0)
        return ReportResult(cleaned=raw, error_rows=empty, duplicates=empty)

    summary = run_reports(spark, str(tmp_path), pipelines={"train_list": pipeline})
    assert not summary.errors_found
    assert len(calls) == 4 and len(set(calls)) == 4


def test_archive_inputs_moves_and_overwrites(tmp_path):
    src = tmp_path / "in"
    dest = tmp_path / "data"
    src.mkdir()
    f1 = src / "a.xlsx"
    f2 = src / "b.xlsx"
    f1.write_text("new-a")
    f2.write_text("new-b")
    dest.mkdir()
    (dest / "a.xlsx").write_text("stale")  # overwritten, as in the reference

    moved = archive_inputs([str(f1), str(f2), str(src / "missing.xlsx")], str(dest))
    assert sorted(moved) == [str(dest / "a.xlsx"), str(dest / "b.xlsx")]
    assert not f1.exists() and not f2.exists()
    assert (dest / "a.xlsx").read_text() == "new-a"
    # second call with already-moved sources is a no-op (idempotent)
    assert archive_inputs([str(f1)], str(dest)) == []


def test_ooxml_escape_sequences_roundtrip(tmp_path):
    """OOXML _xHHHH_ escaping (ECMA-376 §22.4.2.4): control chars and
    CR survive the write→read round trip, literal text that merely
    LOOKS like an escape is protected (_x005F_), and a file written by
    another tool with such escapes decodes correctly."""
    vals = [
        "bell\x07bs\x08",
        "cr\rlf\n tab\t",
        "_x0041_",          # literal text shaped like an escape — not an 'A'
        "_x005F_x0041_",    # pre-escaped literal
        "__x__", "_x12_", "_x12345_",  # near-misses stay untouched
    ]
    path = xlsx_lite.write_xlsx(str(tmp_path / "esc.xlsx"), {"S": [[v] for v in vals]})
    got = [r[0] for r in xlsx_lite.iter_rows(path, "S")]
    assert got == vals
    # decode path against foreign-written escapes
    from train_reports_etl_spark.sources.xlsx_lite import _ooxml_unescape

    assert _ooxml_unescape("a_x000D_b") == "a\rb"
    assert _ooxml_unescape("_x005F_x0041_") == "_x0041_"
    assert _ooxml_unescape("_x0041_") == "A"
