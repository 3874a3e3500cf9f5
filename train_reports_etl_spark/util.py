"""Small shared utilities."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def repartition_if_coarse(
    df, min_partitions: int | None = None, min_rows: int = 0
):
    """Repartition ``df`` up to cluster parallelism when the scan's
    EFFECTIVE parallelism — not its planned split count — is coarser
    than the cluster.

    Split count lies for parquet: a single-row-group file plans as N
    byte-range splits, but every row materializes in the ONE split that
    contains the row-group offset, so ``getNumPartitions()`` reports 32
    while one task does 100% of the work (and any explode/aggregate
    fused into the scan stage runs serially — measured 55 s vs 2 s on a
    150k-doc trigram explode). Parquet's unit of scan parallelism is
    the row group, so the honest check is the footer metadata:

    1. If planned partitions < target → coarse (the cheap case the old
       guard caught: a dim table read as 2-3 splits).
    2. If the scan has ≥ target input files, each file is at least one
       independent task → leave it alone.
    3. Few files but many planned splits: read the parquet FOOTERS
       driver-side (pyarrow, metadata-only — the same reads Spark's own
       scheduler does) and sum row groups, short-circuiting once ≥
       target. Only local ``file:`` URIs are stat-able here; on a
       remote FS (where a 100 TB input has thousands of files and never
       reaches this branch anyway) we trust the planner and back off.

    ``min_rows``: when set, a coarse LOCAL-PARQUET input smaller than
    this many rows (footer ``num_rows``, same metadata read) is left
    alone — below ~10⁴ rows the fused compute is sub-second even
    serialized, while the extra exchange costs real wall (the round-9
    bench measured the vector-shuffle guards at +0.4 s/query on
    5k-row sf0.1 tables that are legitimately single-row-group). Call
    sites whose serialized stage only matters at probe/production
    scale pass ``min_rows=10_000``; sites where even a 3-split dim
    scan must widen keep the default 0. Non-parquet / non-local inputs
    ignore ``min_rows`` (row count unknowable without an action —
    conservatively fire).

    At 100 TB this is metadata-only and O(target) footer reads in the
    worst case; the repartition itself only ever fires on inputs small
    enough to live in few single-row-group files, where shuffling the
    raw rows is trivially cheap next to serializing the whole pipeline
    onto one core.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    planned = df.rdd.getNumPartitions()
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    rows = None
    row_groups = None
    if files and len(files) < target:
        try:
            from urllib.parse import unquote, urlparse

            import pyarrow.parquet as pq

            rows, row_groups = 0, 0
            for uri in files:
                parsed = urlparse(uri)
                if parsed.scheme not in ("file", "") or not parsed.path.endswith(
                    ".parquet"
                ):
                    rows, row_groups = None, None
                    break
                meta = pq.ParquetFile(unquote(parsed.path)).metadata
                row_groups += meta.num_row_groups
                rows += meta.num_rows
                if row_groups >= target:
                    # Enough row groups exist for the scan to parallelize
                    # natively — but only if the PLANNER gave them separate
                    # splits. Many small row groups packed into few
                    # open-cost-dominated splits still serialize the fused
                    # compute, so fall through to the effective =
                    # min(planned, row_groups) check rather than returning.
                    # `rows` is a partial sum here — null it so the
                    # min_rows small-input guard can't act on an
                    # underestimate (conservatively fire).
                    rows = None
                    break
        except Exception:
            rows, row_groups = None, None
    elif files and len(files) >= target:
        # one task per file at minimum
        return df
    effective = planned if row_groups is None else min(planned, row_groups)
    if effective >= target:
        return df
    if min_rows and rows is not None and rows < min_rows:
        return df
    return df.repartition(target)


def safe_col(name: str) -> Column:
    """Column reference for raw, untrusted column names.

    Report headers contain '.', '(', '+' (e.g. "Passengers Inc.
    Infants"); unquoted references go through the multipart-identifier
    parser and split on dots. Backtick-quoting (with embedded backticks
    doubled) resolves the name literally. NB: ``df[name]`` does NOT
    escape this in Spark 4.x — it parses too.
    """
    return F.col(f"`{name.replace('`', '``')}`")


def sql_div(a: int, b: int) -> int:
    """SQL ``a div b``: integer division truncating toward zero (Python
    ``//`` floors, which differs for operands of opposite sign)."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q
