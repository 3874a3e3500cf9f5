"""AFC report-ETL dress rehearsal at volume (VERDICT r09 #4): the
REFERENCE'S own workload shape — many xlsx files × sheets across the
three report types — run end-to-end through the export program
`plans/export.export_reports`: version gate → discover → sniff → read
(tiered, executor-side) → clean → derive → dedup → quarantine →
idempotent partitioned load → audit → archive, twice, each run on a
fresh copy of the inbox (the second run pins S11 idempotency), with
run walls and planted-defect count assertions on the program's
observed counters.

The generator is DETERMINISTIC and counts every defect it plants, so
the assertions are exact equalities, not smoke checks:

- train_list: every 97th row carries a Java-suffixed money literal
  ("12.5d" — the round-10 F2 regex gate must null+quarantine it),
  every 131st a blank required OD; every 53rd row duplicates the
  previous ticket with a 1-hour-later departure (keep-last must pick
  the later copy); each odd file re-carries 20 tickets of its even
  twin with next-day departures and Status=COPY2 (cross-FILE date
  overlap — keep-last must pick COPY2).
- bpd: every 89th row blanks the required Ticket Number; Penalty
  Tariff is a constant 2.00, so the F11 VAT fold is asserted as an
  exact corpus-wide sum (n_clean × 2.30).
- occupancy: every 71st row blanks the required Quota Configuration;
  every 40th duplicates the previous row's (date, od, train, class)
  key with Ticket Reserved "95" vs the base "20" (keep-last winner).
- one file is 16 bytes of garbage named .xlsx: the run must record
  exactly one read-failure event and still load all three tables
  (per-file isolation, reference `:1652-1687`).

Usage::

    python tools/report_rehearsal.py [--files-scale 1.0] \
        [--work /tmp/report_rehearsal] [--json OUT]

Prints the run walls and a JSON summary; exits 1 on any failed
assertion. The driver-grade artifact is REHEARSAL_REPORTS.json.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from train_reports_etl_spark.operators.islands import consecutive_date_ranges
from train_reports_etl_spark.plans import schemas
from train_reports_etl_spark.plans.export import export_reports
from train_reports_etl_spark.session import get_spark
from train_reports_etl_spark.sources import xlsx_lite

RUN_TS = "20240310-120000"  # pinned: quarantine names must match across runs
DATA_DATE = "2024-03-10"
TRAINS = [f"{c}{i:03d}" for c in ("AB", "CD", "EF") for i in range(8)]


# ----------------------------------------------------------- generation

def _tl_sheet(si: int, n_rows: int, expected: dict) -> list[list]:
    """One train-list sheet: title row + blank + header + data rows.
    Mutually-exclusive dirt rules so expected counts are exact."""
    hdr = schemas.TRAIN_LIST_HEADER
    col = {c: i for i, c in enumerate(hdr)}
    day = 1 + (si % 14)
    rows: list[list] = [["Train List Report", None], [], list(hdr)]
    prev_clean: list | None = None
    for i in range(n_rows):
        r: list = [None] * len(hdr)
        r[col["Departure Date"]] = f"2024-03-{day:02d} {8 + i % 14:02d}:{i % 60:02d}:00"
        r[col["Train Number"]] = TRAINS[(si + i) % len(TRAINS)]
        r[col["OD"]] = f"O{i % 7}-D{i % 5}"
        r[col["Origin Station"]] = f"O{i % 7}"
        r[col["Destination Station"]] = f"D{i % 5}"
        r[col["Class"]] = str(1 + i % 2)
        r[col["Booking Code"]] = f"BK{si:03d}{i:05d}"
        r[col["Ticket Number"]] = f"T{si:03d}{i:05d}"
        r[col["Tariff"]] = "FLEX" if i % 3 else "BASE"
        r[col["Status"]] = "OK"
        r[col["Base Price"]] = f"{10 + (i % 50) / 4:.2f}"
        r[col["Operation Amount"]] = f"{11 + (i % 50) / 4:.2f}"
        r[col["Prefix"]] = "+39"
        r[col["Telephone"]] = f"+39-333-{1000000 + i}"
        if i % 97 == 0:
            # Java-suffixed literal: parseDouble-lenient, pandas/DuckDB
            # NULL — must quarantine through the F2 regex gate
            r[col["Base Price"]] = "12.5d"
            expected["tl_err"] += 1
        elif i % 131 == 0:
            r[col["OD"]] = " "
            expected["tl_err"] += 1
        elif i % 53 == 0 and prev_clean is not None:
            r = list(prev_clean)
            dd = prev_clean[col["Departure Date"]]
            r[col["Departure Date"]] = dd[:11] + f"{int(dd[11:13]) + 1:02d}" + dd[13:]
            r[col["Status"]] = "DUP2"
            expected["tl_dup"] += 1
        else:
            prev_clean = r
        rows.append(r)
    return rows


def _tl_copy_rows(src_rows: list[list], n: int, expected: dict) -> list[list]:
    """Cross-file duplicates: the first ``n`` CLEAN data rows of a twin
    sheet, departure shifted +1 day, Status=COPY2 (the keep-last
    winner — latest departure_date)."""
    hdr = schemas.TRAIN_LIST_HEADER
    col = {c: i for i, c in enumerate(hdr)}
    out = []
    for r in src_rows[3:]:
        if len(out) >= n:
            break
        if r[col["Base Price"]] == "12.5d" or r[col["OD"]] == " " or r[col["Status"]] == "DUP2":
            continue
        c = list(r)
        dd = c[col["Departure Date"]]
        c[col["Departure Date"]] = dd[:8] + f"{int(dd[8:10]) + 1:02d}" + dd[10:]
        c[col["Status"]] = "COPY2"
        out.append(c)
        expected["tl_dup"] += 1
        expected["copy2_tickets"].append(c[col["Ticket Number"]])
    return out


def _bpd_sheet(si: int, n_rows: int, expected: dict) -> list[list]:
    hdr = schemas.BPD_HEADER
    col = {c: i for i, c in enumerate(hdr)}
    day = 1 + (si % 14)
    rows: list[list] = [list(hdr)]
    for i in range(n_rows):
        r: list = [None] * len(hdr)
        r[col["Booking Code"]] = f"BK{si:03d}{i:05d}"
        r[col["Ticket Number"]] = f"P{si:03d}{i:05d}"
        r[col["Operation Date"]] = f"2024-03-{day:02d} {9 + i % 10:02d}:{i % 60:02d}:00"
        r[col["Departure Date"]] = f"2024-03-{day:02d} 10:30:00"
        r[col["Arrival Date"]] = f"2024-03-{day:02d} 12:30:00"
        r[col["Base Price"]] = f"{10 + (i % 40) / 4:.2f}"
        r[col["Operation Amount"]] = f"{11 + (i % 40) / 4:.2f}"
        r[col["Penalty Tariff"]] = "2.00"
        r[col["VAT Penalty"]] = "0.30"
        r[col["Train Number"]] = TRAINS[(si + i) % len(TRAINS)]
        r[col["OD"]] = f"O{i % 7}-D{i % 5}"
        r[col["Class"]] = str(1 + i % 2)
        r[col["Tariff"]] = "FLEX"
        r[col["Status"]] = "OK"
        r[col["Sales Channel"]] = "WEB" if i % 2 else "APP"
        r[col["Payment Mode"]] = "CARD"
        if i % 89 == 0:
            r[col["Ticket Number"]] = ""
            expected["bpd_err"] += 1
        else:
            expected["bpd_clean"] += 1
        rows.append(r)
    return rows


def _occ_sheet(si: int, n_rows: int, expected: dict) -> list[list]:
    hdr = schemas.OCCUPANCY_HEADER
    col = {c: i for i, c in enumerate(hdr)}
    day = 1 + (si % 14)
    rows: list[list] = [list(hdr)]
    prev_clean: list | None = None
    for i in range(n_rows):
        r: list = [None] * len(hdr)
        r[col["Date"]] = f"2024-03-{day:02d} 00:00:00"
        r[col["OD"]] = f"S{si}R{i}"  # unique dedup key per base row
        r[col["Train Number"]] = TRAINS[(si + i) % len(TRAINS)]
        r[col["Class"]] = str(1 + i % 2)
        r[col["Quota Configuration"]] = f"Q{i % 3}"
        r[col["Total Seats (Quota + Carer + PRM)"]] = "100"
        r[col["For Sale"]] = "80"
        r[col["Ticket Reserved (Usual + Carer + PRM)"]] = "20"
        r[col["Passengers Inc. Infants"]] = "18"
        if i % 71 == 0:
            r[col["Quota Configuration"]] = ""
            expected["occ_err"] += 1
        elif i % 40 == 0 and prev_clean is not None:
            r = list(prev_clean)
            r[col["Ticket Reserved (Usual + Carer + PRM)"]] = "95"
            expected["occ_dup"] += 1
        else:
            prev_clean = r
        rows.append(r)
    return rows


def generate(work: str, scale: float, expected: dict) -> dict:
    """Write the fixture corpus; returns layout stats. Sheet counts at
    scale 1.0: 100 train-list (50 files ×2, two 6500-row sheets force
    multi-tier reads), 50 bpd, 50 occupancy, 1 corrupt file = 201
    sheets / 126 files."""
    src = os.path.join(work, "inbox")
    os.makedirs(src)
    n_tl_files = max(2, int(50 * scale))
    n_bpd = max(1, int(50 * scale))
    n_occ = max(1, int(50 * scale))
    tl_rows, bpd_rows, occ_rows = 1200, 800, 600
    n_sheets = 0
    pending_copy: list[list] | None = None
    for f in range(n_tl_files):
        sheets = {}
        for s in range(2):
            si = f * 2 + s
            n = 6500 if si < 2 else tl_rows
            rows = _tl_sheet(si, n, expected)
            if s == 0:
                if f % 2 == 1 and pending_copy is not None:
                    rows += _tl_copy_rows(pending_copy, 20, expected)
                else:
                    pending_copy = rows
            sheets[f"TL{s}"] = rows
            n_sheets += 1
        xlsx_lite.write_xlsx(os.path.join(src, f"train_list_{f:03d}.xlsx"), sheets)
    for f in range(n_bpd):
        xlsx_lite.write_xlsx(
            os.path.join(src, f"bpd_{f:03d}.xlsx"),
            {"BPD": _bpd_sheet(f, bpd_rows, expected)},
        )
        n_sheets += 1
    for f in range(n_occ):
        xlsx_lite.write_xlsx(
            os.path.join(src, f"occupancy_{f:03d}.xlsx"),
            {"OCC": _occ_sheet(f, occ_rows, expected)},
        )
        n_sheets += 1
    with open(os.path.join(src, "corrupt.xlsx"), "wb") as fh:
        fh.write(b"not a zip archive")
    # tl_dup counts BOTH in-sheet dup rows (which replace a base row)
    # and appended cross-file copies; total rows written = base sheet
    # sizes + appended copies only.
    base = 2 * 6500 + (n_tl_files * 2 - 2) * tl_rows
    expected["tl_total"] = base + len(expected["copy2_tickets"])
    expected["tl_clean"] = expected["tl_total"] - expected["tl_err"] - expected["tl_dup"]
    expected["occ_total"] = n_occ * occ_rows
    expected["occ_clean"] = expected["occ_total"] - expected["occ_err"] - expected["occ_dup"]
    return {
        "src": src,
        "n_files": n_tl_files + n_bpd + n_occ + 1,
        "n_sheets": n_sheets,
        "n_rows_written": expected["tl_total"] + n_bpd * bpd_rows + expected["occ_total"],
    }


# ----------------------------------------------------------------- run

def table_state(spark, path: str) -> tuple[int, int]:
    """(rows, order-independent content checksum) of a parquet table."""
    df = spark.read.parquet(path)
    row = df.select(
        F.count("*").alias("n"),
        F.sum(
            F.crc32(F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)])))
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def export(spark, layout: dict, work: str, name: str, target: str):
    """One ``export_reports`` run over a fresh copy of the generated
    inbox (a run archives its inputs); returns (summary, inbox, wall)."""
    inbox = os.path.join(work, name)
    shutil.copytree(layout["src"], inbox)
    dep_dim = spark.createDataFrame(
        [(t, f"{6 + i % 16}:00:00") for i, t in enumerate(TRAINS)],
        ["train_number", "departure_time"],
    )
    t0 = time.time()
    summary = export_reports(spark, inbox, target, dep_dim, DATA_DATE, RUN_TS)
    return summary, inbox, round(time.time() - t0, 2)


def main() -> int:
    argv = sys.argv[1:]
    work = "/tmp/report_rehearsal"
    json_out = None
    scale = 1.0
    if "--work" in argv:
        i = argv.index("--work")
        work = argv[i + 1]
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
    if "--files-scale" in argv:
        i = argv.index("--files-scale")
        scale = float(argv[i + 1])
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    walls: dict[str, float] = {}
    expected = {
        "tl_err": 0, "tl_dup": 0, "bpd_err": 0, "bpd_clean": 0,
        "occ_err": 0, "occ_dup": 0, "copy2_tickets": [],
    }
    t0 = time.time()
    layout = generate(work, scale, expected)
    walls["generate"] = round(time.time() - t0, 2)
    print(f"generate     wall={walls['generate']:8.2f}s "
          f"files={layout['n_files']} sheets={layout['n_sheets']} "
          f"rows={layout['n_rows_written']}")

    spark = get_spark("report-rehearsal")
    spark.sparkContext.setLogLevel("ERROR")
    out1 = os.path.join(work, "load")
    summary, inbox1, walls["run_total"] = export(spark, layout, work, "inbox1", out1)
    print(f"{'run_total':42s} {walls['run_total']:8.2f}s")
    counts = summary.counts

    failures: list[str] = []

    def check(cond: bool, msg: str):
        if not cond:
            failures.append(msg)

    # planted-defect equalities, read from the observed counters
    for report, counter, want in (
        ("train_list", "in", expected["tl_total"]),
        ("train_list", "errors", expected["tl_err"]),
        ("train_list", "duplicates", expected["tl_dup"]),
        ("train_list", "loaded", expected["tl_clean"]),
        ("booking_payment_detailed", "errors", expected["bpd_err"]),
        ("booking_payment_detailed", "loaded", expected["bpd_clean"]),
        ("occupancy_list_hist", "errors", expected["occ_err"]),
        ("occupancy_list_hist", "duplicates", expected["occ_dup"]),
    ):
        got = counts.get(report, {}).get(counter)
        check(got == want, f"{report} {counter} {got} != {want}")

    # per-file isolation: exactly one read failure (the corrupt file),
    # all three pipelines + exports green
    read_fails = [e for e in summary.failures if e.stage == "read"]
    check(len(read_fails) == 1 and read_fails[0].unit.endswith("corrupt.xlsx"),
          f"read failures {[(e.unit, e.error) for e in read_fails]}")
    check(all(e.ok for e in summary.events if e.stage in ("pipeline", "export")),
          "a pipeline/export stage failed")

    # S13 archive: every loaded workbook moved to <inbox>/data/, the
    # corrupt one stayed
    left = sorted(f for f in os.listdir(inbox1) if f.endswith(".xlsx"))
    archived = sorted(os.listdir(os.path.join(inbox1, "data")))
    check(left == ["corrupt.xlsx"], f"left in inbox: {left}")
    check(len(archived) == layout["n_files"] - 1,
          f"archived {len(archived)} != {layout['n_files'] - 1}")

    # keep-last winners: every cross-file COPY2 ticket won its group
    tl = spark.read.parquet(os.path.join(out1, "train_list.parquet"))
    sample = expected["copy2_tickets"]
    if sample:
        winners = (
            tl.filter(F.col("ticket_number").isin(sample))
            .select("status").groupBy("status").count().collect()
        )
        check({r["status"]: r["count"] for r in winners} == {"COPY2": len(sample)},
              f"COPY2 keep-last winners wrong: {winners}")
    occ = spark.read.parquet(os.path.join(out1, "occupancy_list_hist.parquet"))
    n95 = occ.filter(F.col("ticket_reserved") == "95").count()
    check(n95 == expected["occ_dup"],
          f"occ keep-last winners {n95} != {expected['occ_dup']}")

    # F11 VAT fold, corpus-wide exact sum (2.00 × 1.15 per clean row)
    bpd = spark.read.parquet(os.path.join(out1, "booking_payment_detailed.parquet"))
    fold = bpd.agg(
        F.sum(F.expr("cast(round(penalty_tariff * 100) as bigint)")).alias("s")
    ).collect()[0]["s"]
    check(fold == 230 * expected["bpd_clean"],
          f"VAT fold sum {fold} != {230 * expected['bpd_clean']}")

    # audit rows: one per covered range per report, the ranges recomputed
    # from the loaded tables
    audit = spark.read.parquet(os.path.join(out1, "audit.parquet"))
    n_audit = audit.count()
    for report in schemas.LOAD:
        table = spark.read.parquet(os.path.join(out1, f"{report}.parquet"))
        want = sorted(
            f"{r.range_start}..{r.range_end}"
            for r in consecutive_date_ranges(table, schemas.LOAD[report][0]).collect()
        )
        got = sorted(r.period for r in audit.filter(F.col("table_name") == report).collect())
        check(got == want, f"{report} audit periods {got} != {want}")

    # S11 idempotency: re-run the whole program on a fresh copy of the
    # inbox; table state must be byte-identical (dynamic partition
    # overwrite, same partitions)
    states1 = {n: table_state(spark, os.path.join(out1, f"{n}.parquet")) for n in schemas.LOAD}
    summary2, _, walls["rerun_total"] = export(spark, layout, work, "inbox2", out1)
    print(f"{'rerun_total':42s} {walls['rerun_total']:8.2f}s")
    check(summary2.counts == counts, f"rerun counts {summary2.counts} != {counts}")
    for n, st1 in states1.items():
        st2 = table_state(spark, os.path.join(out1, f"{n}.parquet"))
        check(st1 == st2, f"{n} not idempotent: {st1} -> {st2}")
    n_audit2 = spark.read.parquet(os.path.join(out1, "audit.parquet")).count()
    check(n_audit2 == 2 * n_audit,
          f"audit table must append (2 runs): {n_audit2} != {2 * n_audit}")

    result = {
        "layout": layout,
        "expected": {k: v for k, v in expected.items() if k != "copy2_tickets"}
        | {"n_copy2": len(expected["copy2_tickets"])},
        "counts": counts,
        "walls": walls,
        "total_wall": round(sum(walls.values()), 2),
        "failures": failures,
    }
    print(json.dumps({k: v for k, v in result.items()
                      if k in ("total_wall", "failures")}))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
