"""Relational-database sinks (S9): a psycopg2 COPY fast path with the
reference's constraint drop/recreate lifecycle.

No database exists in this container, so everything here is
connection-late: plans are built and validated, the socket is only
touched inside the executor-side functions. Gated imports keep the
module importable without drivers installed.

Scale note: ``copy_into_postgres`` mirrors the reference's
COPY-from-CSV-buffer bulk load (`reports_exporter_v0.83.py:1357-1372`)
but per *partition*, so N executors stream concurrently.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame


def quote_ident(name: str) -> str:
    """Quote one SQL identifier (or a dot-qualified chain) the way
    ``psycopg2.sql.Identifier`` would: each part double-quoted with
    embedded double quotes doubled — injection-safe column/table names
    without needing psycopg2 on the driver."""
    return ".".join('"' + part.replace('"', '""') + '"' for part in name.split("."))


def copy_sql(table: str, cols: list[str]) -> str:
    """The COPY statement for :func:`copy_into_postgres`. CSV with
    ``NULL ''``: an *unquoted* empty field is NULL, a *quoted* ``""``
    is a genuine empty string — so both round-trip (see
    :func:`encode_csv_rows`)."""
    collist = ", ".join(quote_ident(c) for c in cols)
    return f"COPY {quote_ident(table)} ({collist}) FROM STDIN WITH (FORMAT csv, NULL '')"


def encode_csv_rows(rows: Iterator) -> tuple[str, int]:
    """CSV-encode rows for COPY: None → unquoted empty (NULL), every
    other value → always-quoted with embedded quotes doubled, so empty
    strings ("") stay distinguishable from NULL. Returns (text, n)."""
    out: list[str] = []
    n = 0
    for row in rows:
        out.append(
            ",".join(
                ""
                if v is None
                else '"' + str(v).replace('"', '""') + '"'
                for v in row
            )
        )
        n += 1
    return "\r\n".join(out) + ("\r\n" if out else ""), n


def make_partition_loader(dsn: str, table: str, cols: list[str], connect=None):
    """Build the per-partition COPY function. ``connect`` is injectable
    for tests (defaults to ``psycopg2.connect``, imported inside the
    closure so the module stays importable without the driver)."""
    sql = copy_sql(table, cols)

    def load_partition(rows: Iterator) -> None:
        import io

        text, n = encode_csv_rows(rows)
        if n == 0:
            return
        if connect is None:
            import psycopg2  # noqa: PLC0415 — executor-side dependency

            conn = psycopg2.connect(dsn)
        else:
            conn = connect(dsn)
        try:
            with conn.cursor() as cur:
                cur.copy_expert(sql, io.StringIO(text))
            conn.commit()
        finally:
            conn.close()

    return load_partition


def copy_into_postgres(
    df: DataFrame,
    dsn: str,
    table: str,
    columns: list[str] | None = None,
    connect=None,
) -> None:
    """S9 — per-partition COPY FROM STDIN bulk load.

    Each executor partition opens its own connection and streams CSV
    into COPY — the reference's fastest load path (`:1357-1372`),
    parallelized. Identifiers are quoted injection-safe; NULL vs empty
    string round-trips (quoted-empty is '' — COPY CSV never NULLs a
    quoted field).
    """
    cols = columns or df.columns
    df.select(*cols).foreachPartition(make_partition_loader(dsn, table, cols, connect))


# Reference parity: `reports_exporter_v0.83.py:155` sets a 400k-row
# threshold above which table constraints are dropped before the bulk
# load and recreated after (`:1586-1623` remove/add via stored
# procedures, `:1801-1835` the per-report orchestration).
DEFAULT_CONSTRAINT_ROW_THRESHOLD = 400_000


def constraint_sql_hooks(
    dsn: str,
    drop_sql: str,
    recreate_sql: str,
    connect=None,
):
    """Build (pre, post) callables running one SQL statement each on a
    fresh driver-side connection (constraint DDL is a driver-side
    concern — executors only stream COPY data).

    The reference calls schema-owned stored procedures
    (``SELECT schema.remove_constraints(...)`` /
    ``SELECT schema.recreate_*_constraints()``,
    `reports_exporter_v0.83.py:1590-1612`); pass those invocations —
    or plain ``ALTER TABLE ... DROP/ADD CONSTRAINT`` — as the two SQL
    strings. ``connect`` is injectable for tests.
    """

    def run(sql: str) -> None:
        if connect is None:
            import psycopg2  # noqa: PLC0415 — optional driver

            conn = psycopg2.connect(dsn)
        else:
            conn = connect(dsn)
        try:
            with conn.cursor() as cur:
                cur.execute(sql)
            conn.commit()
        finally:
            conn.close()

    return (lambda: run(drop_sql)), (lambda: run(recreate_sql))


def bulk_load_with_constraint_hooks(
    df: DataFrame,
    dsn: str,
    table: str,
    *,
    columns: list[str] | None = None,
    pre_load=None,
    post_load=None,
    row_threshold: int = DEFAULT_CONSTRAINT_ROW_THRESHOLD,
    row_count: int | None = None,
    connect=None,
) -> int:
    """S9+ — COPY bulk load with the reference's constraint lifecycle:
    above ``row_threshold`` rows, ``pre_load()`` (drop constraints)
    runs before the distributed COPY and ``post_load()`` (recreate)
    after it (`reports_exporter_v0.83.py:1801-1835`).

    ``post_load`` is a ``finally`` — a failed load must not leave the
    table constraint-less, matching the reference's intent (its
    try/except logs and moves on; we recreate unconditionally).

    ``row_count``: pass it when the caller already knows the size (e.g.
    from an upstream aggregation) to skip the extra count job; at 100 TB
    a ``df.count()`` is a cheap metadata-ish aggregate next to the load
    itself, but never free. Returns the row count used for the decision.
    """
    n = df.count() if row_count is None else row_count
    fire = n > row_threshold and pre_load is not None
    if fire:
        pre_load()
    try:
        copy_into_postgres(df, dsn, table, columns=columns, connect=connect)
    finally:
        if fire and post_load is not None:
            post_load()
    return n
