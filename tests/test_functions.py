"""Scalar-layer unit tests (F1–F15)."""

from __future__ import annotations

from pyspark.sql import functions as F

from train_reports_etl_spark.functions import (
    blank_to_null,
    clean_phone,
    coerce_double,
    coerce_timestamp,
    conditional_day_shift,
    day_abbrev,
    iso_week,
    rebuild_timestamp,
    seconds_of_day,
    strip_prefix,
)


def test_coerce_timestamp_null_on_error(spark):
    df = spark.createDataFrame(
        [("2024-03-01 10:20:30",), ("garbage",), (None,), ("2024-13-99 00:00:00",)],
        ["s"],
    )
    out = [r[0] for r in df.select(coerce_timestamp("s")).collect()]
    assert out[0] is not None and out[0].hour == 10
    assert out[1] is None and out[2] is None and out[3] is None


def test_coerce_double_null_on_error(spark):
    df = spark.createDataFrame([("1.5",), ("x",), ("",), ("-3",)], ["s"])
    out = [r[0] for r in df.select(coerce_double("s")).collect()]
    assert out == [1.5, None, None, -3.0]


def test_coerce_double_rejects_java_lenience(spark):
    """Round-9 F2 fix: Java Double.parseDouble accepts type-suffixed
    literals and hex floats that pd.to_numeric / DuckDB TRY_CAST null —
    the regex gate must reject them while keeping pandas-shaped numbers
    (padding, bare point, exponent forms, inf/nan spellings)."""
    cases = {
        "0d": None, "1f": None, "2D": None, "3F": None, "12.5d": None,
        "0x1.8p1": None, "0x10": None, "1_000": None, "+-1": None,
        " 12.5 ": 12.5, "1.": 1.0, ".5": 0.5, "1.e3": 1000.0,
        "+.5e-2": 0.005, "-inf": float("-inf"), "Infinity": float("inf"),
        "infinityd": None,
    }
    df = spark.createDataFrame([(k,) for k in cases], ["s"])
    got = {r.s: r.d for r in df.select("s", coerce_double("s").alias("d")).collect()}
    assert got == cases


def test_mad_outlier_gate_null_and_empty_inputs(spark):
    """ADVICE r09: NULL values are filtered inside the operator (not
    just by the registered query) and an all-NULL/empty input returns
    an empty frame instead of IndexError."""
    from train_reports_etl_spark.extensions.evaluation import mad_outlier_gate

    ev = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 10.5), (4, 11.0), (5, None), (6, 99.0)],
        "event_id long, value double",
    )
    row = mad_outlier_gate(ev).collect()[0]
    assert row.n == 4  # NULLs excluded from the population
    assert row.med_cents == 1050 and row.n_outliers == 1
    empty = mad_outlier_gate(
        spark.createDataFrame([(1, None)], "event_id long, value double")
    )
    assert empty.collect() == []


def test_distributed_prefix_sum_rejects_duplicate_keys(spark):
    """ADVICE r09: duplicate order keys make within-bucket partial sums
    nondeterministic — the histogram pass must raise, not silently
    pick an order."""
    import pytest as _pytest

    from train_reports_etl_spark.operators.ranking import distributed_prefix_sum

    ok = spark.createDataFrame([(1, 5), (2, 6), (3, 7)], "k long, v long")
    got = {
        r.k: r.cum
        for r in distributed_prefix_sum(ok, "k", "v").collect()
    }
    assert got == {1: 5, 2: 11, 3: 18}
    dup = spark.createDataFrame([(1, 5), (1, 6), (2, 7)], "k long, v long")
    # Since the r10 in-plan fold the guard is an assert_true inside the
    # bucket aggregate: it fires at ACTION time (Spark runtime error
    # carrying the same message), no longer as an eager ValueError.
    with _pytest.raises(Exception, match="duplicate"):
        distributed_prefix_sum(dup, "k", "v").collect()


def test_blank_to_null(spark):
    df = spark.createDataFrame([("",), (" ",), ("  ",), ("a",), (None,)], ["s"])
    out = [r[0] for r in df.select(blank_to_null("s")).collect()]
    assert out == [None, None, None, "a", None]


def test_strip_prefix_and_clean_phone(spark):
    rows = [
        ("+39", "+39-333-1234567"),      # prefix present + dashes
        ("+39", "333-1234567"),           # no prefix
        (None, "+39-333-1234567"),        # null prefix: untouched strip
        ("+39", "+39-12345678901234567"), # truncation to 14
        ("", "12345"),                    # empty prefix is a no-op
    ]
    df = spark.createDataFrame(rows, ["p", "t"])
    out = [r[0] for r in df.select(clean_phone("t", "p")).collect()]
    assert out[0] == "3331234567"
    assert out[1] == "3331234567"
    assert out[2] == "+393331234567"  # null prefix: nothing stripped, only dashes removed
    assert len(out[3]) == 14
    assert out[4] == "12345"

    sp = [r[0] for r in df.select(strip_prefix("t", "p")).collect()]
    assert sp[0] == "-333-1234567"


def test_day_functions(spark):
    df = spark.createDataFrame([("2024-01-01 04:59:00",)], ["s"]).select(
        F.to_timestamp("s").alias("ts")
    )
    row = df.select(
        day_abbrev("ts"), iso_week("ts"), seconds_of_day("ts")
    ).head()
    assert row[0] == "Mon"
    assert row[1] == 1
    assert row[2] == 4 * 3600 + 59 * 60


def test_conditional_day_shift_preserves_time(spark):
    df = spark.createDataFrame([("2024-01-01 00:20:00", True), ("2024-01-01 00:20:00", False)], ["s", "f"])
    out = df.select(
        conditional_day_shift(F.to_timestamp("s"), F.col("f")).alias("ts")
    ).collect()
    assert str(out[0][0]) == "2023-12-31 00:20:00"
    assert str(out[1][0]) == "2024-01-01 00:20:00"


def test_rebuild_timestamp(spark):
    df = spark.createDataFrame(
        [("2024-02-03", "23:50:00"), ("2024-02-03", "09:05:00"), ("2024-02-03", "9:05:00")],
        ["d", "h"],
    )
    out = [str(r[0]) for r in df.select(rebuild_timestamp("d", "h")).collect()]
    assert out == ["2024-02-03 23:50:00", "2024-02-03 09:05:00", "2024-02-03 09:05:00"]


def test_parse_props_types_fields_and_nulls_malformed(spark):
    from train_reports_etl_spark.functions.json_fns import json_field, parse_props

    df = spark.createDataFrame(
        [(1, '{"k": 7, "tag": "x"}'), (2, "not json"), (3, None)],
        ["id", "props"],
    )
    out = {r.id: (r.k, r.tag) for r in parse_props(df, "k bigint, tag string").collect()}
    assert out[1] == (7, "x")
    assert out[2] == (None, None)      # malformed -> NULL, not error
    assert out[3] == (None, None)
    one = df.select("id", json_field("props", "k").alias("k")).collect()
    assert {r.id: r.k for r in one} == {1: "7", 2: None, 3: None}


def test_coercion_null_on_error_holds_under_ansi(spark):
    """The engine claims ANSI-session safety: try_-based coercion must
    return NULL on bad input (not raise) with spark.sql.ansi.enabled
    on, and the rolling-hash mod arithmetic must not overflow-error."""
    from pyspark.sql import functions as F

    from train_reports_etl_spark.functions.coercion import coerce_double, coerce_timestamp
    from train_reports_etl_spark.extensions.text import rolling_fingerprint

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        df = spark.createDataFrame(
            [("not-a-ts", "not-a-number", "some tokens here")], ["t", "d", "text"]
        )
        row = df.select(
            coerce_timestamp("t").alias("ts"),
            coerce_double("d").alias("x"),
            rolling_fingerprint("text").alias("fp"),
        ).collect()[0]
        assert row.ts is None and row.x is None
        assert isinstance(row.fp, int)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_parse_props_comma_bearing_types(spark):
    """Field names must come from the parsed struct, not a ','-split of
    the DDL — decimal(10,2) and struct<a:int,b:int> both carry commas."""
    from train_reports_etl_spark.functions.json_fns import parse_props

    df = spark.createDataFrame(
        [(1, '{"amt": "12.50", "pair": {"a": 1, "b": 2}, "m": {"x": 3}}')],
        ["id", "props"],
    )
    out = parse_props(
        df, "amt decimal(10,2), pair struct<a:int,b:int>, m map<string,int>"
    )
    assert out.columns == ["id", "props", "amt", "pair", "m"]
    row = out.collect()[0]
    assert str(row.amt) == "12.50"
    assert (row.pair.a, row.pair.b) == (1, 2)
    assert row.m == {"x": 3}
