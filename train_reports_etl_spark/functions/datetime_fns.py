"""Datetime scalar functions (F3–F7, F12–F15).

All pure Catalyst expressions. Spark has no TIME type (SURVEY.md §7.4),
so time-of-day comparisons (F13) are done on second-of-day integers —
cheaper than string compares and exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def fmt_datetime_minutes(col: Column | str) -> Column:
    """F3 — timestamp → ``yyyy-MM-dd HH:mm`` string
    (`reports_exporter_v0.83.py:711-715`)."""
    return F.date_format(_c(col), "yyyy-MM-dd HH:mm")


def fmt_date(col: Column | str) -> Column:
    """F3 — timestamp → ``yyyy-MM-dd`` string (`:640-643,990-994`)."""
    return F.date_format(_c(col), "yyyy-MM-dd")


def fmt_time(col: Column | str) -> Column:
    """F3 — timestamp → ``HH:mm`` string (`:643`)."""
    return F.date_format(_c(col), "HH:mm")


def day_abbrev(col: Column | str) -> Column:
    """F4 — day-of-week abbreviation ``Mon``…``Sun``
    (`reports_exporter_v0.83.py:648`, ``strftime('%a')``).

    Implemented as an explicit dayofweek→literal lookup, NOT
    ``date_format(col, 'E')``: the pattern renders through the JVM
    default locale, so a non-English driver JVM would emit localized
    abbreviations ('Mo.', 'lun.') and break parity with the
    reference's C-locale strftime and the DuckDB oracle's '%a'."""
    # Spark dayofweek: 1 = Sunday … 7 = Saturday
    abbrevs = F.array(*[F.lit(d) for d in
                        ("Sun", "Mon", "Tue", "Wed", "Thu", "Fri", "Sat")])
    return F.element_at(abbrevs, F.dayofweek(_c(col)))


def iso_week(col: Column | str) -> Column:
    """F5 — ISO-8601 week number (`reports_exporter_v0.83.py:649`,
    ``isocalendar().week``). Spark's ``weekofyear`` is ISO — matches."""
    return F.weekofyear(_c(col))


def seconds_of_day(col: Column | str) -> Column:
    """F13 helper — time-of-day as seconds since midnight, for TIME-less
    comparisons (`reports_exporter_v0.83.py:660-663,674-676`)."""
    c = _c(col)
    return F.hour(c) * 3600 + F.minute(c) * 60 + F.second(c)


def conditional_day_shift(ts: Column | str, flag: Column) -> Column:
    """F12 — subtract one day iff ``flag`` (`reports_exporter_v0.83.py:
    660-671,674-679`, ``to_timedelta(flag.astype(int), unit='D')``).

    Works on timestamps (preserves time-of-day) — ``date_sub`` would
    truncate to date, so we subtract an interval.
    """
    c = _c(ts)
    return F.when(flag, c - F.expr("INTERVAL 1 DAY")).otherwise(c)


def rebuild_timestamp(date_str: Column | str, time_str: Column | str, fmt: str = "yyyy-MM-dd H:mm:ss") -> Column:
    """F14 — date string + time string → timestamp
    (`reports_exporter_v0.83.py:655-659`). The single ``H`` accepts
    both ``9:00:00`` and ``09:00:00``, as ``pd.to_datetime`` does."""
    return F.try_to_timestamp(F.concat_ws(" ", _c(date_str), _c(time_str)), F.lit(fmt))


def epoch_micros(col: Column | str, is_ntz: bool) -> Column:
    """Microseconds since 1970-01-01 00:00:00, timezone-INDEPENDENT.

    ``unix_micros`` rejects TIMESTAMP_NTZ, and ``cast('timestamp')``
    first would interpret the wall-clock value in the SESSION timezone
    — correct only under the UTC pin, wrong (and DST-ambiguous) on an
    unpinned session. For NTZ we instead take exact interval
    arithmetic against the NTZ epoch (whole seconds, truncating) plus
    the EXTRACT(SECOND) fractional micros — a pure function of the
    wall-clock value (verified bit-equal to unix_micros-under-UTC on
    real data). Post-1970 values only (interval cast truncates toward
    zero). For LTZ input, plain ``unix_micros``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if not is_ntz:
        return F.unix_micros(c)
    whole = (c - F.expr("TIMESTAMP_NTZ '1970-01-01 00:00:00'")).cast("bigint")
    frac = (F.extract(F.lit("SECOND"), c) * 1_000_000).cast("bigint") % 1_000_000
    return whole * 1_000_000 + frac
