"""Golden-fixture tests for the report pipelines (FIXTURES.md §5).

The fixtures pin the reference's *semantics*: derived-column rules
(post-midnight rollback, ≤05:00 service date), quarantine splits,
keep-last dedup tie-breaks, VAT fold, phone cleaning, blank→NULL.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from train_reports_etl_spark.plans.report_pipelines import (
    bpd_pipeline,
    occupancy_pipeline,
    train_list_pipeline,
)


def tl_row(**kw):
    base = {
        "Departure Date": "2024-03-05 10:30:00",
        "Train Number": "AB123",
        "OD": "XX-YY",
        "Origin Station": "XX",
        "Destination Station": "YY",
        "Coach Number": "1",
        "Seat Number": "12A",
        "Class": "2",
        "Booking Code": "BK1",
        "Ticket Number": "T0001",
        "Tariff": "FLEX",
        "Status": "OK",
        "Base Price": "10.00",
        "Operation Amount": "11.50",
        "Penalty Tariff": "",
        "Nationality": "IT",
        "Group": "N",
        "Prefix": "+39",
        "Telephone": "+39-333-1234567",
        "Validation Time": "2024-03-05 10:00:00",
        "CORRIDOR": "",
        "Unnamed: 21": "junk",
    }
    base.update(kw)
    return base


@pytest.fixture()
def departure_times(spark):
    return spark.createDataFrame(
        [("AB123", "10:00:00"), ("CD999", "23:50:00"), ("EF001", "04:30:00")],
        ["train_number", "departure_time"],
    )


def run_tl(spark, departure_times, rows, bpd=None):
    raw = spark.createDataFrame([Row(**r) for r in rows])
    return train_list_pipeline(raw, departure_times, bpd)


def test_train_list_happy_path(spark, departure_times):
    res = run_tl(spark, departure_times, [tl_row()])
    out = res.cleaned.collect()
    assert len(out) == 1 and res.error_rows.count() == 0
    r = out[0]
    assert r.stretch == "AB"               # corridor from first 2 chars
    assert r.week_day == "Tue" and r.week_num == 10
    assert r.train_od_short == "AB123 - XX-YY"
    assert r.train_key == "2024-03-05 - AB123 - XX-YY"
    assert r.telephone == "3331234567"     # prefix stripped, dashes removed
    assert r.train_departure_date_time == "2024-03-05 10:00"
    assert r.service_date == "2024-03-05"
    assert r.departure_date == "2024-03-05 10:30"
    assert "Unnamed: 21" not in res.cleaned.columns


def test_post_midnight_rollback(spark, departure_times):
    # scheduled 23:50 > row time 00:20 -> departure was the previous day
    row = tl_row(**{"Train Number": "CD999", "Departure Date": "2024-03-06 00:20:00"})
    r = run_tl(spark, departure_times, [row]).cleaned.head()
    assert r.train_departure_date_time == "2024-03-05 23:50"
    assert r.train_departure_date_short == "2024-03-05"
    assert r.service_date == "2024-03-05"  # 23:50 not early -> no extra shift


def test_early_train_service_date(spark, departure_times):
    # scheduled 04:30 <= 05:00 -> service date one day earlier still
    row = tl_row(**{"Train Number": "EF001", "Departure Date": "2024-03-06 04:40:00"})
    r = run_tl(spark, departure_times, [row]).cleaned.head()
    assert r.train_departure_date_time == "2024-03-06 04:30"
    assert r.service_date == "2024-03-05"


def test_single_digit_departure_hour(spark):
    # the departure-times sheet writes "9:00:00"; it must parse like "09:00:00"
    dim = spark.createDataFrame([("AB123", "9:00:00")], ["train_number", "departure_time"])
    row = tl_row(**{"Departure Date": "2024-03-05 09:30:00"})
    r = run_tl(spark, dim, [row]).cleaned.head()
    assert r.train_departure_date_time == "2024-03-05 09:00"
    assert r.service_date == "2024-03-05"


def test_missing_train_number_aborts(spark, departure_times):
    rows = [tl_row(**{"Train Number": "ZZ000"})]
    with pytest.raises(ValueError, match="ZZ000"):
        run_tl(spark, departure_times, rows).cleaned.collect()


def test_quarantine_split_and_blanks(spark, departure_times):
    rows = [
        tl_row(),
        tl_row(**{"Ticket Number": "T0002", "Base Price": "not-a-price"}),  # coerce->null->quarantined
        tl_row(**{"Ticket Number": "T0003", "OD": " "}),                    # blank->null->quarantined
        tl_row(**{"Ticket Number": "T0004", "Coach Number": ""}),           # nullable blank: kept
    ]
    res = run_tl(spark, departure_times, rows)
    assert res.cleaned.count() == 2
    assert res.error_rows.count() == 2
    kept = res.cleaned.filter("ticket_number = 'T0004'").head()
    assert kept.coach_number is None       # blank normalized to NULL


def test_dedup_keep_last_by_operation_time(spark, departure_times):
    bpd = spark.createDataFrame(
        [("T0001", "2024-03-01 09:00:00"), ("T0001", "2024-03-01 08:00:00")],
        ["ticket_number", "operation_date_time"],
    )
    rows = [
        tl_row(Status="FIRST"),
        tl_row(Status="SECOND"),  # same ticket -> dedup keeps one
    ]
    res = run_tl(spark, departure_times, rows, bpd)
    assert res.cleaned.count() == 1
    assert res.duplicates.count() == 1
    r = res.cleaned.head()
    assert r.operation_date_time == "2024-03-01 08:00"  # min op time joined
    assert r.operation_date == "2024-03-01"


def bpd_row(**kw):
    base = {
        "Booking Code": "BK1",
        "Ticket Number": "T1",
        "Operation Date": "2024-03-01 09:15:00",
        "Departure Date": "2024-03-05 10:30:00",
        "Arrival Date": "2024-03-05 12:30:00",
        "Base Price": "10.00",
        "Operation Amount": "11.50",
        "Penalty Tariff": "2.00",
        "VAT Penalty": "0.30",
        "Train Number": "AB123",
        "OD": "XX-YY",
        "Class": "2",
        "Tariff": "FLEX",
        "Status": "OK",
        "Sales Channel": "WEB",
        "Payment Mode": "CARD",
        "Nationality": "",
        "Sales Equipment Code": "EQ1",
    }
    base.update(kw)
    return base


def test_bpd_vat_fold_and_split(spark):
    rows = [bpd_row(), bpd_row(**{"Ticket Number": None})]
    raw = spark.createDataFrame([Row(**r) for r in rows])
    res = bpd_pipeline(raw)
    assert res.cleaned.count() == 1 and res.error_rows.count() == 1
    r = res.cleaned.head()
    assert abs(r.penalty_tariff - 2.0 * 1.15) < 1e-9   # F11 fold
    assert "VAT Penalty" not in res.cleaned.columns
    assert r.country_code is None                       # blank -> NULL
    assert r.operation_date_time == "2024-03-01 09:15"
    assert res.duplicates.count() == 0                  # BPD: no dedup


def occ_row(**kw):
    base = {
        "Date": "2024-03-05 00:00:00",
        "OD": "XX-YY",
        "Train Number": "AB123",
        "Class": "2",
        "Origin Station": "XX",
        "Destination Station": "YY",
        "Quota Configuration": "Q1",
        "Total Seats (Quota + Carer + PRM)": "100",
        "For Sale": "80",
        "Ticket Reserved (Usual + Carer + PRM)": "20",
        "Passengers Inc. Infants": "18",
    }
    base.update(kw)
    return base


def test_occupancy_snapshot_and_dedup(spark):
    rows = [
        occ_row(**{"Ticket Reserved (Usual + Carer + PRM)": "20"}),
        occ_row(**{"Ticket Reserved (Usual + Carer + PRM)": "30"}),  # keep-last winner
        occ_row(**{"Class": "1"}),
    ]
    raw = spark.createDataFrame([Row(**r) for r in rows])
    res = occupancy_pipeline(raw, data_date="2024-03-06")
    assert res.cleaned.count() == 2
    r = res.cleaned.filter("class = '2'").head()
    assert r.ticket_reserved == "30"
    assert r.data_date == "2024-03-06"
    assert r.train_key == "2024-03-05 - AB123 - XX-YY"
    assert res.duplicates.count() == 1
