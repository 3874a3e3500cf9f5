"""Seeded inbox of AFC report workbooks with planted, counted defects.

Writes ``.xlsx`` files in the train-list layout the engine ingests
plus one corrupt file, and returns the exact counts a correct run must
reproduce:

- train list: a Java-suffixed money literal ("12.5d") every 97th row
  and a blank required OD every 131st row are error rows; every 53rd
  row repeats the previous clean ticket one hour later (a duplicate).
  Each odd file re-carries 20 clean tickets of its even twin one day
  later with Status=COPY2, which keep-last must pick as the winner.
- ``corrupt.xlsx`` is not a zip archive: exactly one read failure.

The seed moves where each rule fires (a per-sheet phase) and the row
values; file, sheet and row counts depend only on ``scale``, so every
seed does the same amount of work.
"""

from __future__ import annotations

import os
import random

from train_reports_etl_spark.plans import schemas
from train_reports_etl_spark.sources import xlsx_lite

TRAINS = [f"{c}{i:03d}" for c in ("AB", "CD", "EF") for i in range(8)]
BIG_SHEET_ROWS = 6500  # > 2 × 3000 rows per read task: a multi-tier read
TL_ROWS = 600
COPY_ROWS = 20


def _phases(rng: random.Random, *periods: int) -> list[int]:
    return [rng.randrange(p) for p in periods]


def _tl_sheet(si: int, n_rows: int, rng: random.Random, exp: dict) -> list[list]:
    hdr = schemas.TRAIN_LIST_HEADER
    col = {c: i for i, c in enumerate(hdr)}
    day = 1 + (si % 14)
    p_java, p_od, p_dup = _phases(rng, 97, 131, 53)
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
        r[col["Tariff"]] = "FLEX" if rng.random() < 0.67 else "BASE"
        r[col["Status"]] = "OK"
        r[col["Base Price"]] = f"{10 + rng.randrange(200) / 4:.2f}"
        r[col["Operation Amount"]] = f"{11 + rng.randrange(200) / 4:.2f}"
        r[col["Prefix"]] = "+39"
        r[col["Telephone"]] = f"+39-333-{1000000 + rng.randrange(9000000)}"
        if (i + p_java) % 97 == 0:
            r[col["Base Price"]] = "12.5d"
            exp["tl_err"] += 1
        elif (i + p_od) % 131 == 0:
            r[col["OD"]] = " "
            exp["tl_err"] += 1
        elif (i + p_dup) % 53 == 0 and prev_clean is not None:
            r = list(prev_clean)
            dd = prev_clean[col["Departure Date"]]
            r[col["Departure Date"]] = dd[:11] + f"{int(dd[11:13]) + 1:02d}" + dd[13:]
            r[col["Status"]] = "DUP2"
            exp["tl_dup"] += 1
        else:
            prev_clean = r
        rows.append(r)
    return rows


def _tl_copies(twin: list[list], exp: dict) -> list[list]:
    """The first clean data rows of the twin sheet, one day later."""
    col = {c: i for i, c in enumerate(schemas.TRAIN_LIST_HEADER)}
    out = []
    for r in twin[3:]:
        if len(out) == COPY_ROWS:
            break
        if r[col["Base Price"]] == "12.5d" or r[col["OD"]] == " " or r[col["Status"]] == "DUP2":
            continue
        c = list(r)
        dd = c[col["Departure Date"]]
        c[col["Departure Date"]] = dd[:8] + f"{int(dd[8:10]) + 1:02d}" + dd[10:]
        c[col["Status"]] = "COPY2"
        out.append(c)
        exp["tl_dup"] += 1
        exp["copy2_tickets"].append(c[col["Ticket Number"]])
    return out


def generate(inbox: str, seed: int, scale: float) -> dict:
    """Write the inbox; return the planted counts and the layout.

    At ``scale`` 1.0: 50 train-list files of two sheets (the first
    sheet is a 6,500-row multi-tier read) and one corrupt file.
    """
    os.makedirs(inbox)
    rng = random.Random(seed)
    exp = {
        "tl_err": 0, "tl_dup": 0, "copy2_tickets": [],
    }
    n_tl = max(2, int(50 * scale))
    sheets = 0
    twin: list[list] = []
    tl_total = 0
    for f in range(n_tl):
        book = {}
        for s in range(2):
            si = f * 2 + s
            rows = _tl_sheet(si, BIG_SHEET_ROWS if si == 0 else TL_ROWS, rng, exp)
            if s == 0:
                if f % 2:
                    rows += _tl_copies(twin, exp)
                else:
                    twin = rows
            tl_total += len(rows) - 3
            book[f"TL{s}"] = rows
            sheets += 1
        xlsx_lite.write_xlsx(os.path.join(inbox, f"train_list_{f:03d}.xlsx"), book)
    with open(os.path.join(inbox, "corrupt.xlsx"), "wb") as fh:
        fh.write(b"not a zip archive")
    exp["tl_total"] = tl_total
    exp["tl_clean"] = tl_total - exp["tl_err"] - exp["tl_dup"]
    exp["files"] = n_tl + 1
    exp["sheets"] = sheets
    exp["rows"] = tl_total
    return exp
