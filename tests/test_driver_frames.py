"""Driver-sized frames: ``local_frame`` / ``bounded_collect``, the
one-collect waterfill, the multi-rank histogram order statistic, and
the guards that keep library code on them."""

from __future__ import annotations

import datetime as dt
import decimal
import pathlib
import random
import re
from fractions import Fraction

import pytest

from train_reports_etl_spark.driver import DriverBoundError, bounded_collect, local_frame
from train_reports_etl_spark.session import conf_scope

PACKAGE = pathlib.Path(__file__).resolve().parents[1] / "train_reports_etl_spark"


def _plan_root(df) -> str:
    return df._jdf.queryExecution().analyzed().nodeName()


# ------------------------------------------------------------ local_frame

ALL_TYPES = (
    "big bigint, ts timestamp, d date, dec decimal(38,0), arr array<int>, "
    "m map<string,bigint>, st struct<p:int,q:string>"
)
ALL_TYPES_ROWS = [
    (
        2**62 + 1,
        dt.datetime(2024, 1, 2, 3, 4, 5, 6),
        dt.date(2020, 2, 29),
        decimal.Decimal(10**37 + 3),
        [1, None, 3],
        {"k": 2**60 + 7},
        (1, "z"),
    ),
    (None, None, None, None, None, None, None),
    (-(2**53) - 1, dt.datetime(1969, 12, 31, 23, 59, 59), dt.date(1, 1, 1),
     decimal.Decimal(-(10**37)), [], {}, (None, None)),
]


@pytest.mark.parametrize("arrow", ["true", "false"])
def test_local_frame_round_trips_exactly_as_a_local_relation(spark, arrow):
    with conf_scope(spark, "spark.sql.execution.arrow.pyspark.enabled", arrow):
        df = local_frame(spark, ALL_TYPES_ROWS, ALL_TYPES)
        assert _plan_root(df) == "LocalRelation"
        got = [tuple(r) for r in df.collect()]
        empty = local_frame(spark, [], ALL_TYPES)
        assert _plan_root(empty) == "LocalRelation"
        assert empty.collect() == []
        assert empty.schema == df.schema
    want = [tuple(tuple(v) if isinstance(v, tuple) else v for v in r) for r in ALL_TYPES_ROWS]
    assert [tuple(tuple(v) if isinstance(v, tuple) else v for v in r) for r in got] == want


def test_local_frame_runs_no_job(spark):
    sc = spark.sparkContext
    sc.setJobGroup("local_frame_no_job", "local_frame_no_job")
    try:
        rows = local_frame(spark, [(1, "a"), (2, None)], "k int, v string").collect()
    finally:
        sc.setJobGroup(None, None)
    assert [tuple(r) for r in rows] == [(1, "a"), (2, None)]
    assert list(sc.statusTracker().getJobIdsForGroup("local_frame_no_job")) == []


# -------------------------------------------------------- bounded_collect

def test_bounded_collect_succeeds_at_the_bound_and_fails_past_it(spark):
    df = spark.range(5)
    assert [r.id for r in bounded_collect(df, 5, "five ids")] == list(range(5))
    with pytest.raises(DriverBoundError, match="five ids: 5 rows, bound 4"):
        bounded_collect(df, 4, "five ids")


# ------------------------------------------------------------- conf_scope

def test_conf_scope_restores_a_value_or_unsets_the_key(spark):
    key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.unset(key)
    with conf_scope(spark, key, "false"):
        assert spark.conf.get(key) == "false"
    assert spark.conf.get(key, None) is None
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with conf_scope(spark, "spark.sql.shuffle.partitions", "3"):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_streaming_query_leaves_session_conf_unchanged(spark, sf_dir):
    from train_reports_etl_spark.extensions.ext_queries import (
        e1_streaming_dedup_first_seen,
    )

    before = dict(spark.conf.getAll)
    e1_streaming_dedup_first_seen(spark, sf_dir).collect()
    assert dict(spark.conf.getAll) == before


# ---------------------------------------------------------------- _hist_kth

def _expanded_prefix(vals: dict[int, int], k: int) -> tuple[int, int, int]:
    """(k-th value, count below it, sum below it) by sorted expansion."""
    expanded = sorted(v for v, c in vals.items() for _ in range(c))
    x = expanded[k - 1]
    below = [v for v in expanded if v < x]
    return x, len(below), sum(below)


def test_hist_kth_several_ranks_match_sorted_expansion(spark):
    from train_reports_etl_spark.extensions.evaluation import _hist_kth

    rng = random.Random(23)
    for trial in range(5):
        span = rng.choice([20, 300, 5000])
        vals: dict[int, int] = {}
        for _ in range(rng.randint(1, 40)):
            v = rng.randrange(-span, span)
            vals[v] = vals.get(v, 0) + rng.randint(1, 5)  # repeated draws tie
        hist = local_frame(spark, list(vals.items()), "v long, c long")
        n = sum(vals.values())
        ks = sorted({1, n, rng.randint(1, n), rng.randint(1, n), (n + 1) // 2})
        for max_rows in (4, 65536):
            got = _hist_kth(hist, "v", "c", ks, min(vals), max(vals), max_rows=max_rows)
            assert got == [_expanded_prefix(vals, k) for k in ks], (trial, max_rows)
        with pytest.raises(ValueError, match="beyond histogram mass"):
            _hist_kth(hist, "v", "c", [1, n + 1], min(vals), max(vals), max_rows=3)


def test_hist_kth_shares_collects_until_buckets_split(spark, monkeypatch):
    from train_reports_etl_spark.extensions import evaluation

    calls = []

    def counting(df, max_rows, what):
        calls.append(what)
        return bounded_collect(df, max_rows, what)

    monkeypatch.setattr(evaluation, "bounded_collect", counting)
    # values 0..99, one each; bucket width 16 under max_rows=8
    hist = local_frame(spark, [(v, 1) for v in range(100)], "v long, c long")
    assert [x for x, _, _ in evaluation._hist_kth(hist, "v", "c", [3, 4], 0, 99, 8)] == [2, 3]
    assert calls == ["_hist_kth buckets", "_hist_kth buckets", "_hist_kth values"]
    calls.clear()
    assert [x for x, _, _ in evaluation._hist_kth(hist, "v", "c", [3, 90], 0, 99, 8)] == [2, 89]
    assert calls == ["_hist_kth buckets"] + ["_hist_kth buckets", "_hist_kth values"] * 2


# ---------------------------------------------------------------- waterfill

def _waterfill_reference(rows, budget, rounds):
    """Capped proportional allocation with an exact rational λ."""
    capped: set[int] = set()
    for _ in range(rounds):
        num = budget - sum(rows[i][1] for i in capped)
        den = sum(w for i, (_, _, w) in enumerate(rows) if i not in capped)
        newly = {
            i for i, (_, c, w) in enumerate(rows)
            if i not in capped and den > 0 and Fraction(c) <= Fraction(num, den) * w
        }
        capped |= newly
    num = budget - sum(rows[i][1] for i in capped)
    den = sum(w for i, (_, _, w) in enumerate(rows) if i not in capped)
    share = {
        i: Fraction(c) if i in capped else Fraction(w * num, max(den, 1))
        for i, (_, c, w) in enumerate(rows)
    }
    base = {i: int(s) for i, s in share.items()}  # shares are ≥ 0: trunc = floor
    short = min(budget, sum(c for _, c, _ in rows)) - sum(base.values())
    # every source takes a rank; a capped one has remainder 0
    order = sorted(
        base,
        key=lambda i: (
            -(0 if i in capped else share[i] - base[i]), rows[i][0] is not None, rows[i][0]
        ),
    )
    return {
        rows[i][0]: (base[i] + (i not in capped and order.index(i) < short), i in capped)
        for i in base
    }


def _waterfill(spark, rows, budget, rounds):
    from train_reports_etl_spark.extensions.corpus import waterfill_budget

    out = waterfill_budget(
        local_frame(spark, rows, "source string, cap long, w long"), budget, rounds
    )
    assert _plan_root(out) == "LocalRelation"
    return {r.source: (r.allocated, r.capped) for r in out.collect()}


def test_waterfill_matches_fraction_reference_on_edge_cases(spark):
    rng = random.Random(41)
    cases = [
        ([("a", 10, 0), ("b", 20, 0)], 15),  # zero weights
        ([("a", 10, 0), ("b", 20, 3), ("c", 5, 0)], 12),
        ([("a", 10, 3), ("b", 20, 4)], 0),  # budget 0
        ([("a", 10, 3), ("b", 20, 4)], 30),  # budget = Σcap
        ([("a", 10, 3), ("b", 20, 4)], 1000),  # budget > Σcap
        ([("only", 50, 7)], 20),  # single source
        ([("only", 50, 7)], 80),
        ([("b", 100, 1), ("a", 100, 1), ("c", 100, 1)], 10),  # remainder ties
        ([("b", 100, 1), (None, 100, 1), ("a", 100, 1)], 2),  # NULL source first
    ]
    for _ in range(25):
        g = rng.randint(1, 7)
        rows = [(f"s{i}", rng.randint(0, 40), rng.randint(0, 6)) for i in range(g)]
        cases.append((rows, rng.randint(0, sum(c for _, c, _ in rows) + 10)))
    for rows, budget in cases:
        for rounds in (1, 2, len(rows) + 1):
            got = _waterfill(spark, rows, budget, rounds)
            assert got == _waterfill_reference(rows, budget, rounds), (rows, budget, rounds)
        if all(w > 0 for _, _, w in rows):  # a zero weight gets no share of λ
            caps = {s: c for s, c, _ in rows}
            assert sum(a for a, _ in got.values()) == min(budget, sum(caps.values())), rows
            assert all(a <= caps[s] for s, (a, _) in got.items()), rows


def test_waterfill_collects_past_its_bound_fail_by_name(spark, monkeypatch):
    from train_reports_etl_spark.extensions import corpus

    monkeypatch.setattr(corpus, "MAX_WATERFILL_SOURCES", 2)
    with pytest.raises(DriverBoundError, match="waterfill_budget sources: 3 rows, bound 2"):
        _waterfill(spark, [("a", 1, 1), ("b", 1, 1), ("c", 1, 1)], 2, 6)


# ------------------------------------------------------------------ guards

def test_library_builds_frames_from_python_rows_only_through_local_frame():
    """``createDataFrame`` over Python rows plans a LogicalRDD whose every
    action is a job; library code goes through ``driver.local_frame``.
    The one exception is the Excel reader, whose input is a real RDD of
    executor read tasks."""
    allowed = {("sources/report_reader.py", "rdd.flatMap(")}
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "driver.py":
            continue
        for line in path.read_text().splitlines():
            if re.search(r"\bcreateDataFrame\(", line) and not any(
                rel == f and marker in line for f, marker in allowed
            ):
                found.append(f"{rel}: {line.strip()}")
    assert found == []
