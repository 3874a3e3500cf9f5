"""DuckDB oracle check for the query workloads.

A query is correct when its Spark result and its ``registry.ORACLES``
SQL, run by DuckDB over the same parquet files, agree on row count,
column names and an order-insensitive value hash (columns sorted by
name, rows sorted, values rendered per dtype class).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _render(s: pd.Series) -> pd.Series:
    if pd.api.types.is_datetime64_any_dtype(s):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)
        return s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
    if pd.api.types.is_float_dtype(s):
        return s.map(lambda v: "NaN" if v is None or math.isnan(v) else f"{v:.6g}")
    if s.dtype == object:
        return s.map(lambda v: v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else repr(v))
    return s.astype(str)


def value_hash(df: pd.DataFrame) -> str:
    """Order-insensitive hash of a frame's values."""
    cols = sorted(df.columns)
    norm = pd.DataFrame({c: _render(df[c]) for c in cols}, columns=cols)
    norm = norm.sort_values(by=cols).reset_index(drop=True) if cols else norm
    h = hashlib.sha256("|".join(cols).encode())
    for row in norm.itertuples(index=False):
        h.update("\x1f".join(map(str, row)).encode())
    return h.hexdigest()[:16]


def mismatch(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    """Why the two results differ, or None when they agree."""
    if len(spark_df) != len(oracle_df):
        return f"rows {len(spark_df)} != {len(oracle_df)}"
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return f"columns {sorted(spark_df.columns)} != {sorted(oracle_df.columns)}"
    if value_hash(spark_df) != value_hash(oracle_df):
        return "value hash differs"
    return None
