"""The three report pipelines, re-expressed as lazy DataFrame graphs.

Reference flow per sheet (SURVEY.md §3.2): typed read → prune →
coerce → required-null split → lookup joins → derived columns →
re-stringify → rename. Here each pipeline is a pure
``DataFrame → ReportResult`` function; nothing materializes until the
caller writes. The caller should ``persist()`` the input once when
fanning out to the quarantine sinks (SURVEY.md §7.1).

Scale design: every step is a narrow projection/filter except the W1
dedup (one shuffle on the dedup key) and the J1 broadcast join (no
shuffle). A 100 TB day of sheets runs as one scan + one shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from train_reports_etl_spark.functions import (
    blank_to_null,
    clean_phone,
    coerce_double,
    coerce_timestamp,
    conditional_day_shift,
    day_abbrev,
    fmt_date,
    fmt_datetime_minutes,
    iso_week,
    rebuild_timestamp,
    seconds_of_day,
)
from train_reports_etl_spark.functions.strings import concat_key, corridor_code
from train_reports_etl_spark.operators.dedup import keep_last_dedup
from train_reports_etl_spark.operators.joins import assert_no_missing, lookup_join
from train_reports_etl_spark.operators.split import null_split, prune_columns
from train_reports_etl_spark.operators.union import required_columns
from train_reports_etl_spark.plans import schemas
from train_reports_etl_spark.util import safe_col


@dataclass
class ReportResult:
    """A cleaned report plus its two quarantine side-outputs."""

    cleaned: DataFrame
    error_rows: DataFrame
    duplicates: DataFrame


def _coerce(df: DataFrame, ts_cols: list[str], money_cols: list[str]) -> DataFrame:
    """F1/F2 coercion block: all-string input → typed columns, NULL on
    parse failure, rows kept (`reports_exporter_v0.83.py:545-564`).

    ``safe_col`` throughout: report headers contain '.' and '(' which
    must not hit the multipart-identifier parser.
    """
    updates = {c: coerce_timestamp(safe_col(c)) for c in ts_cols if c in df.columns}
    updates |= {c: coerce_double(safe_col(c)) for c in money_cols if c in df.columns}
    return df.withColumns(updates)


def _normalize_blanks(df: DataFrame, string_cols: list[str]) -> DataFrame:
    """F10 on every string column (intended reference semantics —
    SURVEY.md §7.4 bug note)."""
    return df.withColumns({c: blank_to_null(safe_col(c)) for c in string_cols})


def _rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    return df.select(*[safe_col(old).alias(new) for old, new in mapping.items() if old in df.columns])


def train_list_pipeline(
    raw: DataFrame,
    departure_times: DataFrame,
    bpd_operations: DataFrame | None = None,
) -> ReportResult:
    """Train List — the richest path (`reports_exporter_v0.83.py:461-806`).

    ``departure_times``: (train_number, departure_time 'HH:mm:ss') dim —
    broadcast joined; missing train numbers abort (J2).
    ``bpd_operations``: (ticket_number, operation_date_time) detail for
    the min-op-time enrichment (A1+J3); None skips the join (reference
    behavior when no BPD data is loaded).
    """
    df = prune_columns(raw)  # P1
    df = _coerce(df, schemas.TRAIN_LIST_TIMESTAMP_COLS, schemas.TRAIN_LIST_MONEY_COLS)
    str_cols = [c for c, t in df.dtypes if t == "string"]
    df = _normalize_blanks(df, str_cols)

    good, bad = null_split(df, [c for c in schemas.TRAIN_LIST_REQUIRED if c in df.columns])  # P2

    # J1/J2 — scheduled departure hour lookup, abort on misses
    dim = departure_times.select(
        F.col("train_number").alias("Train Number"),
        F.col("departure_time").alias("Train Hour"),
    )
    joined = lookup_join(good, dim, on="Train Number", how="left")
    joined = assert_no_missing(joined, "Train Hour", "Train Number", context="train_departure_times")

    # Derived-column block (`reports_exporter_v0.83.py:640-679`)
    dep = F.col("Departure Date")
    sched = rebuild_timestamp(fmt_date(dep), F.col("Train Hour"))
    # post-midnight stretch: scheduled time-of-day > row's time-of-day
    # ⇒ the train left yesterday (`:655-666`)
    post_midnight = seconds_of_day(sched) > seconds_of_day(dep)
    train_departure = conditional_day_shift(sched, post_midnight)
    # early train: scheduled ≤ 05:00 ⇒ service date is previous day (`:674-679`)
    early = seconds_of_day(train_departure) <= 5 * 3600
    service_date = conditional_day_shift(train_departure, early)

    enriched = joined.withColumns(
        {
            "CORRIDOR": corridor_code(F.col("Train Number")),
            "WEEK_DAY": day_abbrev(dep),
            "WEEK_NUM": iso_week(dep).cast("int"),
            "Train-OD Short": concat_key(F.col("Train Number"), F.col("OD")),
            "train_key": concat_key(fmt_date(dep), F.col("Train Number"), F.col("OD")),
            "train_departure_date_time": fmt_datetime_minutes(train_departure),
            "train_departure_date_short": fmt_date(conditional_day_shift(dep, post_midnight)),
            "Service_Date": fmt_date(service_date),
            "Telephone": clean_phone(F.col("Telephone"), F.col("Prefix")),  # X1
        }
    )

    # A1+J3 — earliest operation per ticket from the BPD detail
    if bpd_operations is not None:
        ops = bpd_operations.groupBy("ticket_number").agg(
            F.min("operation_date_time").alias("operation_date_time")
        )
        enriched = enriched.join(
            ops.select(
                F.col("ticket_number").alias("Ticket Number"),
                F.col("operation_date_time"),
            ),
            on="Ticket Number",
            how="left",
        ).withColumn("operation_date", fmt_date(F.col("operation_date_time")))
    else:
        enriched = enriched.withColumns(
            {
                "operation_date_time": F.lit(None).cast("timestamp"),
                "operation_date": F.lit(None).cast("string"),
            }
        )

    # Re-stringify (F3, `:711-715`) then positional rename
    enriched = enriched.withColumns(
        {
            "Departure Date": fmt_datetime_minutes(F.col("Departure Date")),
            "Validation Time": fmt_datetime_minutes(F.col("Validation Time")),
            "operation_date_time": fmt_datetime_minutes(F.col("operation_date_time")),
        }
    )
    rename = dict(schemas.TRAIN_LIST_RENAME) | {
        "WEEK_DAY": "week_day",
        "WEEK_NUM": "week_num",
        "Train-OD Short": "train_od_short",
        "train_key": "train_key",
        "Train Hour": "train_hour",
        "train_departure_date_time": "train_departure_date_time",
        "train_departure_date_short": "train_departure_date_short",
        "Service_Date": "service_date",
        "operation_date_time": "operation_date_time",
        "operation_date": "operation_date",
    }
    final = _rename(enriched, rename)

    # W1 — keep-last dedup on ticket_number by (departure_date, op time)
    kept, dups = keep_last_dedup(
        final, schemas.TRAIN_LIST_DEDUP_KEYS, schemas.TRAIN_LIST_SORT
    )
    return ReportResult(cleaned=kept, error_rows=bad, duplicates=dups)


def bpd_pipeline(raw: DataFrame) -> ReportResult:
    """Booking Payment Detailed (`reports_exporter_v0.83.py:812-1067`):
    coerce → VAT fold (F11) → required-null split → rename, plus
    ``op_date`` (the operation day, the table's partition column — the
    reference deletes per operation day, `:1422-1434`). No dedup
    (`:1767-1768`)."""
    df = prune_columns(raw)
    df = _coerce(df, schemas.BPD_TIMESTAMP_COLS, schemas.BPD_MONEY_COLS)
    str_cols = [c for c, t in df.dtypes if t == "string"]
    df = _normalize_blanks(df, str_cols)

    # F11 — penalty_tariff *= 1.15 where VAT Penalty present, drop VAT col
    # (`reports_exporter_v0.83.py:1001-1002`): the reference multiplies
    # unconditionally; VAT Penalty is informational.
    df = df.withColumn("Penalty Tariff", F.col("Penalty Tariff") * F.lit(1.15)).drop(
        "VAT Penalty"
    )

    required = required_columns(df.columns, schemas.BPD_NULLABLE)
    good, bad = null_split(df, required)

    final = _rename(
        good.withColumns(
            {
                "Operation Date": fmt_datetime_minutes(F.col("Operation Date")),
                "Departure Date": fmt_datetime_minutes(F.col("Departure Date")),
                "Arrival Date": fmt_datetime_minutes(F.col("Arrival Date")),
            }
        ),
        schemas.BPD_RENAME,
    ).withColumn("op_date", F.substring("operation_date_time", 1, 10))
    empty_dups = final.limit(0)
    return ReportResult(cleaned=final, error_rows=bad, duplicates=empty_dups)


def occupancy_pipeline(raw: DataFrame, data_date: str) -> ReportResult:
    """Occupancy (`reports_exporter_v0.83.py:1073-1246`): snapshot
    history table — adds ``data_date`` (snapshot day) and ``train_key``;
    numerics stay strings (reference keeps them as text, `:1076-1101`);
    dedup on (date, od, train_number, class) keep-last by
    (ticket_reserved, quota_configuration)."""
    df = prune_columns(raw)
    df = _coerce(df, schemas.OCCUPANCY_TIMESTAMP_COLS, [])
    str_cols = [c for c, t in df.dtypes if t == "string"]
    df = _normalize_blanks(df, str_cols)

    required = required_columns(df.columns, schemas.OCCUPANCY_NULLABLE)
    good, bad = null_split(df, required)

    enriched = good.withColumns(
        {
            "Date": fmt_date(F.col("Date")),
            "data_date": F.lit(data_date),
            "train_key": concat_key(
                fmt_date(F.col("Date")), F.col("Train Number"), F.col("OD")
            ),
        }
    )
    rename = dict(schemas.OCCUPANCY_RENAME) | {
        "data_date": "data_date",
        "train_key": "train_key",
    }
    final = _rename(enriched, rename)
    kept, dups = keep_last_dedup(
        final, schemas.OCCUPANCY_DEDUP_KEYS, schemas.OCCUPANCY_SORT
    )
    return ReportResult(cleaned=kept, error_rows=bad, duplicates=dups)
