"""Parquet table registry for the driver's star schema (TESTDATA.md).

One parquet file per table at ``{sf_dir}/{name}.parquet``. Reads are
plain ``spark.read.parquet`` so Catalyst gets full predicate pushdown,
column pruning, and split-based parallelism; at 100 TB each "file"
becomes a directory of row-grouped parquet and nothing here changes.
"""

from __future__ import annotations

import glob
import os
from functools import lru_cache

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimensions that should always broadcast in joins.
SMALL_DIMS = frozenset({"region", "nation", "supplier", "part", "customer"})


@lru_cache(maxsize=256)
def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), from one footer.

    Spark's vectorized parquet reader rejects NANOS outright
    (PARQUET_TYPE_ILLEGAL); we read them as raw nanos longs and truncate
    to micros — the same truncation DuckDB applies, so oracles agree.
    Metadata-only probe of a single footer: O(1) regardless of data size.
    """
    probe = path
    if os.path.isdir(path):
        candidates = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not candidates:
            return ()
        probe = candidates[0]
    try:
        schema = pq.ParquetFile(probe).schema
    except Exception:  # noqa: BLE001 — non-local or unreadable: assume no nanos
        return ()
    # Probe the PARQUET schema, not the arrow view: pyarrow reports
    # legacy INT96 timestamps (Spark's own default writer format) as
    # timestamp[ns] too, but Spark reads INT96 natively — treating it
    # as raw-nanos-longs crashed on any Spark-written file. Only
    # INT64 columns whose logical type is TIMESTAMP(NANOS) need the
    # nanosAsLong workaround.
    out = []
    for i in range(len(schema)):
        col = schema.column(i)
        lt = col.logical_type
        if (
            col.physical_type == "INT64"
            and lt is not None
            and getattr(lt, "type", None) == "TIMESTAMP"
            and _time_unit(lt) == "nanoseconds"
        ):
            out.append(col.name)
    return tuple(out)


def _time_unit(lt: object) -> str:
    """Time unit of a parquet TIMESTAMP logical type, via the structured
    ``to_json()`` serialization (stable parquet-format field names) with
    the repr as a last-ditch fallback — never the repr alone, whose
    formatting is not a pyarrow API guarantee."""
    try:
        import json

        return str(json.loads(lt.to_json()).get("timeUnit", ""))
    except Exception:  # noqa: BLE001 — fall back to the repr heuristic
        s = str(lt)
        for unit in ("nanoseconds", "microseconds", "milliseconds"):
            if unit in s:
                return unit
        return ""


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table lazily, normalizing NANOS timestamps.

    Deliberately NOT wrapped in ``repartition_if_coarse``: round 9
    tried guarding this one shared read path after the row-group audit
    flagged 102 queries on single-row-group copies — and the bench
    promptly measured the cost of the blanket form: every query whose
    FIRST op after the scan is itself a shuffle (every star join, every
    keyed agg) paid one extra full round-robin exchange for nothing
    (shuffle_mb 2-10x, short-join walls ~2x at sf0.1; the serial scan
    is unavoidable either way — parquet cannot split below a row group
    — so pre-shuffling buys parallelism only for NARROW compute fused
    into the scan). The guard therefore lives INSIDE the operators
    whose scan-fused stage is expression-heavy (explode/md5/HOF paths:
    text/clustering/evaluation modules), where the exchange replaces a
    serialized stage instead of duplicating a keyed shuffle;
    tools/rowgroup_audit.py is the mechanical sweep that finds any op
    missing it (ratio vs a many-row-group copy of the same bytes)."""
    path = f"{sf_dir}/{name}.parquet"
    ns_cols = _nanos_timestamp_cols(path)
    if not ns_cols:
        return spark.read.parquet(path)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df
