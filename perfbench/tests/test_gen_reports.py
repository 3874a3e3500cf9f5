"""The planted defect counts match the files, for more than one seed."""

from __future__ import annotations

import os

import pytest

import gen_reports
from train_reports_etl_spark.plans import schemas
from train_reports_etl_spark.sources import xlsx_lite

SCALE = 0.04  # two files


def _recount(inbox: str) -> dict:
    """Counts read back from the workbooks, by the defect markers."""
    got = dict.fromkeys(("tl_err", "tl_dup", "tl_total"), 0)
    tl = {c: i for i, c in enumerate(schemas.TRAIN_LIST_HEADER)}
    copies = []
    for name in sorted(os.listdir(inbox)):
        path = os.path.join(inbox, name)
        if name == "corrupt.xlsx":
            continue
        for sheet in xlsx_lite.sheet_names(path):
            data = [list(r) + [None] * 40 for r in xlsx_lite.iter_rows(path, sheet)][3:]
            got["tl_total"] += len(data)
            for r in data:
                if r[tl["Base Price"]] == "12.5d" or (r[tl["OD"]] or "").strip() == "":
                    got["tl_err"] += 1
                elif r[tl["Status"]] in ("DUP2", "COPY2"):
                    got["tl_dup"] += 1
                    if r[tl["Status"]] == "COPY2":
                        copies.append(r[tl["Ticket Number"]])
    got["copy2_tickets"] = copies
    return got


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_planted_counts_are_exact(tmp_path, seed):
    exp = gen_reports.generate(str(tmp_path / "inbox"), seed, SCALE)
    got = _recount(str(tmp_path / "inbox"))
    for key, value in got.items():
        assert exp[key] == value, key
    assert exp["tl_clean"] == exp["tl_total"] - exp["tl_err"] - exp["tl_dup"]
    assert exp["rows"] == exp["tl_total"]
    assert len(exp["copy2_tickets"]) == gen_reports.COPY_ROWS
    assert min(exp["tl_err"], exp["tl_dup"]) > 0


def test_seeds_move_defects_but_not_the_amount_of_work(tmp_path):
    a = gen_reports.generate(str(tmp_path / "a"), 1, SCALE)
    b = gen_reports.generate(str(tmp_path / "b"), 2, SCALE)
    same = ("rows", "files", "sheets", "tl_total")
    assert {k: a[k] for k in same} == {k: b[k] for k in same}
    with open(tmp_path / "a" / "train_list_000.xlsx", "rb") as fa, open(tmp_path / "b" / "train_list_000.xlsx", "rb") as fb:
        assert fa.read() != fb.read()
