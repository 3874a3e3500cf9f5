"""Report ingestion: discover → sniff → typed all-string read (S1–S4).

The reference enumerates ``*.xlsx`` in the working directory, sniffs
every sheet, and reads matching sheets as all-string frames
(`reports_exporter_v0.83.py:1684-1724,522-528`). Excel has no
splittable JVM reader in this container (the
``com.crealytics:spark-excel`` datasource would slot in on a real
cluster); the scalable pattern used here is:

- the *(file, sheet, row-tier)* triple is the parallel unit, tiered
  exactly like the reference's parallel reader
  (`Old/reports_exporter_v0.82.ipynb:484-554`: ≥3000 rows per task),
  and every tier is one executor task (``parallelize(tasks).flatMap``),
  so one big sheet and many small sheets both spread over the
  cluster's slots;
- each sheet becomes an all-string DataFrame with the exact sniffed
  header, feeding the same pipeline as any other source.

Engine selection: openpyxl when installed, else the pure-stdlib
``xlsx_lite`` fallback (same public xlsx format), so the full
discover→sniff→read path runs in any environment.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from train_reports_etl_spark.operators.union import union_all
from train_reports_etl_spark.sources import xlsx_lite
from train_reports_etl_spark.sources.sniffer import PROBE_DEPTH, SniffResult, sniff_rows

try:  # optional accelerated engine; absent in this container
    import openpyxl  # noqa: F401

    HAVE_OPENPYXL = True
except ImportError:
    HAVE_OPENPYXL = False

# Reference parallel-read tuning constant
# (`Old/reports_exporter_v0.82.ipynb:486`).
MIN_ROWS_PER_TASK = 3000


@dataclass(frozen=True)
class SheetRef:
    """One discovered (file, sheet) input and its sniff result."""

    path: str
    sheet: str
    sniff: SniffResult


def discover_files(directory: str, pattern: str = ".xlsx") -> list[str]:
    """S1 — enumerate candidate report files (driver-side listing; at
    scale this is an object-store listing, still a metadata op)."""
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.lower().endswith(pattern) and not f.startswith("~")
    )


def _engine_rows(
    path: str, sheet: str, min_row: int = 1, max_row: int | None = None
) -> Iterator[list]:
    """Yield raw cell rows for the 1-based inclusive range, via
    whichever engine is available."""
    if HAVE_OPENPYXL:
        wb = openpyxl.load_workbook(path, read_only=True, data_only=True)
        try:
            yield from wb[sheet].iter_rows(min_row=min_row, max_row=max_row, values_only=True)
        finally:
            wb.close()
    else:
        yield from xlsx_lite.iter_rows(path, sheet, min_row=min_row, max_row=max_row)


def _sheet_names(path: str) -> list[str]:
    if HAVE_OPENPYXL:
        wb = openpyxl.load_workbook(path, read_only=True)
        try:
            return list(wb.sheetnames)
        finally:
            wb.close()
    return xlsx_lite.sheet_names(path)


def _sheet_max_row(path: str, sheet: str) -> int:
    if HAVE_OPENPYXL:
        wb = openpyxl.load_workbook(path, read_only=True)
        try:
            return wb[sheet].max_row or 0
        finally:
            wb.close()
    return xlsx_lite.sheet_max_row(path, sheet)


def discover_reports(
    directory: str,
    on_error: Callable[[str, Exception], None] | None = None,
) -> dict[str, list[SheetRef]]:
    """S1+S2 — sniff every sheet of every file; group by report type
    (`reports_exporter_v0.83.py:1690-1724`). Unknown sheets are skipped.

    ``on_error``: failure isolation, matching the reference's per-file
    try/except (`:1652-1687`) — a workbook whose sheets cannot be
    listed is reported as its path, a sheet that cannot be sniffed as
    ``path#sheet``, and discovery goes on with the next sheet. Without
    a callback the exception propagates (a caller that didn't opt into
    isolation must not silently lose files).
    """

    def failed(unit: str, exc: Exception) -> None:
        if on_error is None:
            raise exc
        on_error(unit, exc)

    found: dict[str, list[SheetRef]] = {}
    for path in discover_files(directory):
        try:
            sheets = _sheet_names(path)
        except Exception as exc:  # noqa: BLE001 — one bad workbook
            failed(path, exc)
            continue
        for sheet in sheets:
            try:
                res = sniff_rows([list(r) for r in _engine_rows(path, sheet, 1, PROBE_DEPTH)])
            except Exception as exc:  # noqa: BLE001 — one bad sheet
                failed(f"{path}#{sheet}", exc)
                continue
            if res is not None:
                found.setdefault(res.report_type, []).append(SheetRef(path, sheet, res))
    return found


def tier_plan(first_row: int, max_row: int, max_tiers: int) -> list[tuple[int, int]]:
    """S4 — split [first_row, max_row] into ≤ ``max_tiers`` tiers of
    ≥ ``MIN_ROWS_PER_TASK`` rows, the reference's sizing rule
    (`Old/reports_exporter_v0.82.ipynb:486-510`)."""
    total = max_row - first_row + 1
    if total <= 0:
        return []
    n = max(1, min(max_tiers, math.ceil(total / MIN_ROWS_PER_TASK)))
    tier = math.ceil(total / n)
    return [(s, min(s + tier - 1, max_row)) for s in range(first_row, max_row + 1, tier)]


def _read_task(task: tuple[str, str, int, int], width: int) -> list[list]:
    """Executor side: one row tier, every value stringified (dtype=str
    parity, `reports_exporter_v0.83.py:522-528`) and padded or cut to
    the header width."""
    path, sheet, lo, hi = task
    out = []
    for row in _engine_rows(path, sheet, lo, hi):
        vals = [None if c is None else str(c) for c in row[:width]]
        vals.extend([None] * (width - len(vals)))
        out.append(vals)
    return out


def read_report(spark: SparkSession, refs: list[SheetRef]) -> DataFrame:
    """S3+S4/U1 — typed all-string read of all sheets of one report
    type, unioned by name: the cluster form of the reference's
    advertised parallel read (`README.md:22`,
    `Old/reports_exporter_v0.82.ipynb:484-554`). Every (file, sheet,
    row-tier) task is one element of an RDD, so tiers run wherever the
    cluster has slots. Requires the files on storage every executor can
    reach (shared FS / object store — in local mode, trivially true).

    Driver-side work is metadata-only: the header comes from the sniff,
    and each sheet costs one max-row footer probe. Sheets whose sniffed
    headers are identical share one RDD job (their tiers interleave
    freely); header variants become separate frames unioned by name.
    Downstream coercion is the pipelines' job (F1/F2)."""
    groups: dict[tuple[str, ...], list[SheetRef]] = {}
    for ref in refs:
        groups.setdefault(ref.sniff.header, []).append(ref)
    parallelism = max(1, spark.sparkContext.defaultParallelism)
    frames = []
    for header, group_refs in groups.items():
        tasks = [
            (ref.path, ref.sheet, lo, hi)
            for ref in group_refs
            for lo, hi in tier_plan(
                ref.sniff.header_row + 2,  # 1-based, after the header
                _sheet_max_row(ref.path, ref.sheet),
                parallelism,
            )
        ]
        schema = StructType([StructField(name, StringType(), True) for name in header])
        if not tasks:
            frames.append(spark.createDataFrame([], schema))
        else:
            rdd = spark.sparkContext.parallelize(tasks, len(tasks))
            frames.append(
                spark.createDataFrame(rdd.flatMap(partial(_read_task, width=len(header))), schema)
            )
    return union_all(frames)
