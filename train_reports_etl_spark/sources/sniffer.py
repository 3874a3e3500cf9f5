"""Report-type detection: the header sniffer (S2).

The reference reads the first 50 rows of every sheet headerless and
declares a report type when some row, after dropping nulls, equals one
of three hard-coded header lists cell-for-cell
(`reports_exporter_v0.83.py:290-455`; probe depth `:431-433`;
equality `:441-452`; README.md:42 "Headers must match exactly").

Driver-side by design: the probe touches ≤50 rows per sheet (a LIMIT
pushdown, metadata-cheap), while the subsequent *data* read is the
distributed path. Sniffing thousands of sheets parallelizes over the
sheet list, not within a sheet.
"""

from __future__ import annotations

from dataclasses import dataclass

from train_reports_etl_spark.plans.schemas import HEADERS

PROBE_DEPTH = 50  # `reports_exporter_v0.83.py:432`


@dataclass(frozen=True)
class SniffResult:
    report_type: str
    header_row: int  # 0-based index of the header row within the probe
    # Column names from the header row's cells; an empty cell is named
    # ``Unnamed: <i>`` (pandas' convention for a blank header cell).
    header: tuple[str, ...]


def _normalize(cells: list) -> list[str]:
    """Drop nulls/NaNs and stringify — pandas `dropna()` equivalent in
    the reference's row comparison (`reports_exporter_v0.83.py:441-452`).
    `dropna()` keeps empty strings, so a blank-string header cell makes
    the row NOT match (same as the reference) — only None/NaN drop."""
    out = []
    for c in cells:
        if c is None:
            continue
        if isinstance(c, float) and c != c:  # NaN
            continue
        out.append(str(c).strip())
    return out


def sniff_rows(rows: list[list], headers: dict[str, list[str]] | None = None) -> SniffResult | None:
    """Match probe rows against known header layouts; first hit wins.

    ``rows``: up to PROBE_DEPTH raw rows (lists of cells).
    Returns None when no layout matches (sheet is skipped, as in
    `reports_exporter_v0.83.py:1717-1721`).
    """
    headers = headers or HEADERS
    for i, row in enumerate(rows[:PROBE_DEPTH]):
        got = _normalize(row)
        if not got:
            continue
        for report_type, expected in headers.items():
            if got == list(expected):
                columns = tuple(
                    f"Unnamed: {j}" if c is None else str(c) for j, c in enumerate(row)
                )
                return SniffResult(report_type, i, columns)
    return None
