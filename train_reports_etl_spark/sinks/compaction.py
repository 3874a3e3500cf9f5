"""Small-files compaction (table maintenance).

Reference linkage: none — operational scope the reference never hits
(single-node pandas writes one file); at 100 TB it's unavoidable.
Per-day partition overwrites do not shed small files: they rebalance
on the partition columns and write one file set per day
(sinks/partitioned.py, also behind the foreachBatch streaming sink in
streaming/sinks.py). Streaming appends do — a Structured Streaming
file sink or any append-mode table (e.g. the audit trail) adds a file
set per micro-batch or per append — as do high-parallelism writes
outside that sink; scans then pay per-file open/footer costs and lose
row-group locality (the NameNode/object-store listing tax is real long
before that). Compaction rewrites a table directory to ~``target_mb`` files.

Design: file sizes come from the JVM Hadoop FileSystem (no Python
directory walk — works for any supported scheme, not just file://);
the rewrite goes to a sibling temp dir and swaps in with two renames.
Readers never observe a *half-written* table (the rewrite is complete
before the first rename), but the two-rename swap is NOT atomic: in
the instant between moving the live dir aside and moving the compacted
dir in, the table path does not exist, so a concurrent reader can hit
PATH_NOT_FOUND and a crash between the renames leaves the data intact
under ``<path>__old_*`` with the table path missing — recover by
renaming that dir back. A crash *before* the first rename leaves the
original untouched (the temp dir is garbage to be re-run, the same
at-least-once stance as the reference's snapshot CSVs). Serving
concurrent readers through a compaction requires a metastore or table
format (Delta/Iceberg) whose commit is a single atomic pointer swap —
out of scope for a filesystem-only sink; schedule compaction in a
maintenance window instead.
"""

from __future__ import annotations

import uuid

from pyspark.sql import SparkSession

__all__ = ["table_file_stats", "compact_parquet"]


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p, jvm


def table_file_stats(spark: SparkSession, path: str, suffix: str = ".parquet") -> tuple[int, int]:
    """(n_data_files, total_bytes) for a table directory, recursively."""
    fs, p, _ = _fs_and_path(spark, path)
    it = fs.listFiles(p, True)
    n, total = 0, 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.endswith(suffix) and not name.startswith("_"):
            n += 1
            total += f.getLen()
    return n, total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_mb: int = 256,
    min_files: int = 1,
) -> tuple[int, int]:
    """Rewrite the parquet table at ``path`` into ≈``target_mb`` files.

    Returns (files_before, files_after). Uses on-disk bytes to size the
    output (parquet in ≈ parquet out for the same data), rewrites into
    a temp sibling and swaps via two renames — NOT atomic: the path is
    briefly absent between the renames, and a crash there strands the
    data in ``__old_*`` (see the module docstring for the visibility
    window and recovery). Partitioned tables should be compacted per
    partition directory — pass the partition path."""
    n_before, total = table_file_stats(spark, path)
    n_out = max(min_files, -(-total // (target_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(int(n_out)).write.mode("errorifexists").parquet(tmp)

    fs, p, jvm = _fs_and_path(spark, path)
    tmp_p = jvm.org.apache.hadoop.fs.Path(tmp)
    old_p = jvm.org.apache.hadoop.fs.Path(f"{path.rstrip('/')}__old_{uuid.uuid4().hex[:8]}")
    if not fs.rename(p, old_p):
        raise RuntimeError(f"compaction swap failed: could not move {path} aside")
    if not fs.rename(tmp_p, p):
        fs.rename(old_p, p)  # roll back
        raise RuntimeError(f"compaction swap failed: could not move {tmp} into place")
    fs.delete(old_p, True)
    n_after, _ = table_file_stats(spark, path)
    return n_before, n_after
