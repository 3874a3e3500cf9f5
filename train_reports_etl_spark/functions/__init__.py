"""Scalar function layer (SURVEY.md §2.8, F1–F15).

Pure ``Column → Column`` expressions — everything stays JVM-side inside
whole-stage codegen; no Python UDFs in this module.
"""

from train_reports_etl_spark.functions.coercion import (
    blank_to_null,
    coerce_double,
    coerce_timestamp,
)
from train_reports_etl_spark.functions.datetime_fns import (
    conditional_day_shift,
    day_abbrev,
    fmt_date,
    fmt_datetime_minutes,
    iso_week,
    rebuild_timestamp,
    seconds_of_day,
)
from train_reports_etl_spark.functions.strings import (
    clean_phone,
    corridor_code,
    concat_key,
    strip_prefix,
)

__all__ = [
    "blank_to_null",
    "coerce_double",
    "coerce_timestamp",
    "conditional_day_shift",
    "day_abbrev",
    "fmt_date",
    "fmt_datetime_minutes",
    "iso_week",
    "rebuild_timestamp",
    "seconds_of_day",
    "clean_phone",
    "corridor_code",
    "concat_key",
    "strip_prefix",
]
