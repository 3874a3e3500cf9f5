"""Projection and predicate-split operators (P1–P5).

The reference's validation model splits every frame into a *good* part
(all required columns non-null) and a quarantined *bad* complement
(`reports_exporter_v0.83.py:593-603,966-983,1167-1184`). In Spark this
is one predicate and its negation over the same lazy input — with the
input persisted once by the caller, both sides are a single scan.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from train_reports_etl_spark.util import safe_col


def required_non_null(df: DataFrame, required: list[str]) -> Column:
    """Conjunction ``AND(col IS NOT NULL for col in required)`` (P2).

    Columns resolve via ``safe_col`` so raw report headers containing
    '.'/'(' never hit the multipart-identifier parser.
    """
    if not required:
        return F.lit(True)
    return reduce(lambda a, b: a & b, [safe_col(c).isNotNull() for c in required])


def null_split(df: DataFrame, required: list[str]) -> tuple[DataFrame, DataFrame]:
    """P2 — split into (good, bad): good rows have every required column
    non-null; bad is the exact complement (quarantine side-output).

    ``IS NOT NULL`` is two-valued, so the two filters partition exactly:
    good ∪ bad == input, good ∩ bad == ∅ (property-tested in
    tests/test_operators.py).
    """
    cond = required_non_null(df, required)
    return df.filter(cond), df.filter(~cond)


def prune_columns(df: DataFrame, pattern: str = r"^Unnamed") -> DataFrame:
    """P1 — drop columns whose *name* matches ``pattern``
    (`reports_exporter_v0.83.py:535,896,1123`). Metadata-only: a name-
    filtered ``select`` that Catalyst folds into the scan's ReadSchema.
    """
    rx = re.compile(pattern)

    return df.select(*[safe_col(c) for c in df.columns if not rx.search(c)])
