"""Join operators (J1–J4).

Every reference join is fact-table-to-tiny-dimension, so the engine's
default is an explicit ``broadcast()`` hint — no shuffle of the fact
side, which is the only plan that survives a 100 TB fact table. The
IN-list pushdown (J4, `reports_exporter_v0.83.py:686-694` — literal SQL
string explosion) is replaced by a proper semi-join, which Spark
executes broadcast-side when the key set is small.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """J1 — fact ⟕ small dimension (`reports_exporter_v0.83.py:627-628`).

    ``broadcast_dim=True`` forces a broadcast hash join: the dimension
    ships to every executor; the fact table is never shuffled.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=list(on) if not isinstance(on, str) else on, how=how)


def missing_keys(joined: DataFrame, check_col: str, key_col: str) -> DataFrame:
    """J2 — distinct join keys whose lookup missed (``check_col`` NULL
    after a left join); the reference aborts if any exist
    (`reports_exporter_v0.83.py:631-637`).
    """
    return joined.filter(F.col(check_col).isNull()).select(key_col).distinct()


def assert_no_missing(joined: DataFrame, check_col: str, key_col: str, context: str = "lookup") -> DataFrame:
    """J2 enforcement — raise listing the distinct missing keys."""
    misses = [r[key_col] for r in missing_keys(joined, check_col, key_col).limit(100).collect()]
    if misses:
        raise ValueError(f"{context}: {len(misses)}+ keys missing from dimension: {sorted(map(str, misses))[:20]}")
    return joined


def join_aggregated(
    fact: DataFrame,
    detail: DataFrame,
    key: str,
    agg_exprs: dict[str, str],
    how: str = "left",
) -> DataFrame:
    """J3+A1 — join ``fact`` to a per-key aggregate of ``detail``
    (`reports_exporter_v0.83.py:686-699`: min operation time per ticket).

    ``agg_exprs`` maps output name → "fn(col)" (e.g. ``{"min_op": "min(ts)"}``).
    The aggregate runs as partial+final hash agg (map-side combine), so
    the shuffled volume is one row per key, not per detail row.
    """
    aggs = [F.expr(e).alias(name) for name, e in agg_exprs.items()]
    per_key = detail.groupBy(key).agg(*aggs)
    return fact.join(per_key, on=key, how=how)


def semi_join(left: DataFrame, right: DataFrame, on: str | Sequence[str]) -> DataFrame:
    """J4 — rows of ``left`` whose key exists in ``right``
    (replaces the reference's SQL ``IN (...)`` literal-list pushdown,
    `reports_exporter_v0.83.py:686-694`). No columns from ``right`` are
    produced, no duplication on multi-matches."""
    return left.join(right, on=list(on) if not isinstance(on, str) else on, how="left_semi")


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    n_salts: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-buster equi-join: split each hot fact key across
    ``n_salts`` shuffle partitions by appending a per-ROW deterministic
    salt to the fact side and replicating the dim side once per salt
    value.

    Result-identical to ``fact.join(dim, on, how)`` (the salt matches
    by construction and is dropped); only the shuffle layout changes:
    a key holding 10% of a 100 TB fact table becomes ``n_salts`` tasks
    instead of one straggler. The dim side grows ×``n_salts`` — use
    for moderate dims when AQE's skew-join split (enabled in
    session.py) can't help, e.g. a skewed key landing in ONE shuffle
    partition of a non-AQE-splittable stage or a bucketed sink write.

    The salt is ``xxhash64(all fact columns) pmod n_salts`` — no
    ``rand()``, so retried tasks recompute identical salts
    (nondeterministic salting breaks Spark's task-retry model: a
    re-executed map task would re-salt rows differently than the
    already-fetched shuffle blocks).

    Supports ``inner``/``left`` (the fact side keeps its rows; a
    right/full variant would need dim-side dedup of the replicas).
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(n_salts)
    ).cast("int")
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return f.join(d, on=[on, "__salt"], how=how).drop("__salt")

