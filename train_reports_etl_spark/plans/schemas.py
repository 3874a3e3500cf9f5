"""Report schemas: header layouts, rename maps, and validation sets.

The reference detects a report by exact header-list match
(`reports_exporter_v0.83.py:290-455`) and renames columns positionally
to snake_case DB names (`:747-801,1005-1065,1216-1243`). Full 40/56/24-
column layouts are reproduced in FIXTURES.md; these condensed layouts
keep every *semantically distinct* column family — identity, datetime,
money, phone, flags — so all derived-column logic and validation paths
are exercised without 50-column noise in tests.
"""

from __future__ import annotations

# --- Train List (`reports_exporter_v0.83.py:292-336`; renames `:747-801`)

TRAIN_LIST_HEADER = [
    "Departure Date",
    "Train Number",
    "OD",
    "Origin Station",
    "Destination Station",
    "Coach Number",
    "Seat Number",
    "Class",
    "Booking Code",
    "Ticket Number",
    "Tariff",
    "Status",
    "Base Price",
    "Operation Amount",
    "Penalty Tariff",
    "Nationality",
    "Group",
    "Prefix",
    "Telephone",
    "Validation Time",
    "CORRIDOR",
]

#: Positional rename to DB names; semantic renames preserved from the
#: reference: CORRIDOR→stretch, Group→groupyn, Validation Time→
#: validating_time (`reports_exporter_v0.83.py:792,785,784`).
TRAIN_LIST_RENAME = {
    "Departure Date": "departure_date",
    "Train Number": "train_number",
    "OD": "od",
    "Origin Station": "origin_station",
    "Destination Station": "destination_station",
    "Coach Number": "coach_number",
    "Seat Number": "seat_number",
    "Class": "class",
    "Booking Code": "booking_code",
    "Ticket Number": "ticket_number",
    "Tariff": "tariff",
    "Status": "status",
    "Base Price": "base_price",
    "Operation Amount": "operation_amount",
    "Penalty Tariff": "penalty_tariff",
    "Nationality": "country_code",
    "Group": "groupyn",
    "Prefix": "prefix",
    "Telephone": "telephone",
    "Validation Time": "validating_time",
    "CORRIDOR": "stretch",
}

#: Required (non-null) columns (`reports_exporter_v0.83.py:567-585`) —
#: rows violating any go to quarantine, not the table.
TRAIN_LIST_REQUIRED = [
    "Departure Date",
    "Train Number",
    "OD",
    "Origin Station",
    "Destination Station",
    "Class",
    "Booking Code",
    "Ticket Number",
    "Tariff",
    "Status",
    "Base Price",
    "Operation Amount",
]

TRAIN_LIST_TIMESTAMP_COLS = ["Departure Date", "Validation Time"]
TRAIN_LIST_MONEY_COLS = ["Base Price", "Operation Amount", "Penalty Tariff"]

#: Dedup key + keep-last sort (`reports_exporter_v0.83.py:1753-1766`).
TRAIN_LIST_DEDUP_KEYS = ["ticket_number"]
TRAIN_LIST_SORT = ["departure_date", "operation_date_time"]


# --- Booking Payment Detailed (`:367-427`; renames `:1005-1065`)

BPD_HEADER = [
    "Booking Code",
    "Ticket Number",
    "Operation Date",
    "Departure Date",
    "Arrival Date",
    "Base Price",
    "Operation Amount",
    "Penalty Tariff",
    "VAT Penalty",
    "Train Number",
    "OD",
    "Class",
    "Tariff",
    "Status",
    "Sales Channel",
    "Payment Mode",
    "Nationality",
    "Sales Equipment Code",
]

BPD_RENAME = {
    "Booking Code": "booking_code",
    "Ticket Number": "ticket_number",
    "Operation Date": "operation_date_time",
    "Departure Date": "departure_date_time",
    "Arrival Date": "arrival_date_time",
    "Base Price": "base_price",
    "Operation Amount": "operation_amount",
    "Penalty Tariff": "penalty_tariff",
    "Train Number": "train_number",
    "OD": "od",
    "Class": "class",
    "Tariff": "tariff",
    "Status": "status",
    "Sales Channel": "sales_channel",
    "Payment Mode": "payment_mode",
    "Nationality": "country_code",
    "Sales Equipment Code": "equipment_code",
}

#: Nullable set `:928-964`; required = complement (U2).
BPD_NULLABLE = ["Nationality", "Sales Equipment Code", "VAT Penalty"]

BPD_TIMESTAMP_COLS = ["Operation Date", "Departure Date", "Arrival Date"]
BPD_MONEY_COLS = ["Base Price", "Operation Amount", "Penalty Tariff", "VAT Penalty"]

#: No dedup for BPD (`reports_exporter_v0.83.py:1767-1768`).


# --- Occupancy (`:338-365`; renames `:1216-1243`)

OCCUPANCY_HEADER = [
    "Date",
    "OD",
    "Train Number",
    "Class",
    "Origin Station",
    "Destination Station",
    "Quota Configuration",
    "Total Seats (Quota + Carer + PRM)",
    "For Sale",
    "Ticket Reserved (Usual + Carer + PRM)",
    "Passengers Inc. Infants",
]

OCCUPANCY_RENAME = {
    "Date": "date",
    "OD": "od",
    "Train Number": "train_number",
    "Class": "class",
    "Origin Station": "origin_station",
    "Destination Station": "destination_station",
    "Quota Configuration": "quota_configuration",
    "Total Seats (Quota + Carer + PRM)": "total_seats",
    "For Sale": "for_sale",
    "Ticket Reserved (Usual + Carer + PRM)": "ticket_reserved",
    "Passengers Inc. Infants": "passengers",
}

OCCUPANCY_NULLABLE = [
    "Origin Station",
    "Destination Station",
    "Total Seats (Quota + Carer + PRM)",
    "For Sale",
    "Passengers Inc. Infants",
]

#: Occupancy numerics stay strings in the reference
#: (`reports_exporter_v0.83.py:1076-1101,1117`); only Date is parsed.
OCCUPANCY_TIMESTAMP_COLS = ["Date"]

#: Dedup: (date, od, train_number, class) keep-last after sort by
#: (ticket_reserved, quota_configuration) (`:1757-1758,1770`).
OCCUPANCY_DEDUP_KEYS = ["date", "od", "train_number", "class"]
OCCUPANCY_SORT = ["ticket_reserved", "quota_configuration"]

HEADERS = {
    "train_list": TRAIN_LIST_HEADER,
    "booking_payment_detailed": BPD_HEADER,
    "occupancy_list_hist": OCCUPANCY_HEADER,
}

#: Load layout per report: (date column whose consecutive ranges the
#: audit records, partition columns of the table). The partitions are
#: the reference's delete keys (S11): train list by date, BPD by
#: operation day (`:1422-1434`), occupancy by (date, data_date) so a
#: re-run replaces only today's snapshot (`:1513-1528`).
LOAD = {
    "train_list": ("service_date", ["service_date"]),
    "booking_payment_detailed": ("op_date", ["op_date"]),
    "occupancy_list_hist": ("date", ["date", "data_date"]),
}
