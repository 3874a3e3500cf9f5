"""SparkSession factory with pinned semantics.

The reference pipeline (see SURVEY.md §1.2) relies on null-on-error
coercion (`pd.to_datetime(errors='coerce')`,
`reports_exporter_v0.83.py:545-549`) and is timezone-naive throughout.
We pin the equivalent Spark semantics once, here, so they cannot drift:

- ``spark.sql.ansi.enabled=false`` — casts return NULL on failure
  (matches pandas ``errors='coerce'``).
- ``spark.sql.session.timeZone=UTC`` — timezone-naive parity.
- ``spark.sql.sources.partitionOverwriteMode=dynamic`` — the idempotent
  delete-range-then-insert load (S11, `reports_exporter_v0.83.py:1328-1343`)
  becomes an atomic per-partition INSERT OVERWRITE.
- AQE on (runtime shuffle coalescing + skew-join splitting) — at 100 TB
  the per-stage partition counts must be picked at runtime, not hardcoded.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "*")


def configure(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply the engine's pinned configuration to any builder.

    Kept separate from :func:`get_spark` so a cluster deployment
    (spark-submit with its own master/resources) can reuse the exact
    same semantic pins.
    """
    return (
        builder.config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 128 MiB input splits: at 100 TB that is ~800k tasks — fine for a
        # 1000-executor cluster; local runs coalesce via AQE anyway.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Default openCost (4 MiB) floors the split size so a single
        # 10 MiB parquet file scans as ≤3 tasks — a CPU-bound expression
        # (md5 checksums, token hashing) then runs 1/10th-parallel on
        # local[32]. 256 KiB lets small-file scans fan out to the core
        # count; irrelevant at 100 TB where files dwarf either value.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.ui.enabled", "false")
        # No console progress bars: the driver parses bench.py's one
        # JSON stdout line out of a ~2000-char captured tail, and the
        # \r-progress fragments were eating ~300 chars of that window
        # (r11 — widens the per-query stdout payload; zero effect on
        # execution or timing).
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )


def get_spark(app_name: str = "train-reports-etl-spark", master: str | None = None) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local default is ``local[$SPARK_GRAFT_CPUS]`` (falls back to all
    cores). On a cluster, pass ``master=None`` with an externally
    configured builder, or just spark-submit — ``configure`` only pins
    semantics, not resources.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{DEFAULT_CPUS}]"
    if master:
        builder = builder.master(master)
    return configure(builder).getOrCreate()


@contextmanager
def conf_scope(spark: SparkSession, key: str, value: str) -> Iterator[None]:
    """Set session conf ``key`` to ``value`` for the ``with`` body, then
    restore it: the old value if the key had one, unset if it had none
    (so a vanilla session's conf reads the same before and after)."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
