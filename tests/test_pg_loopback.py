"""End-to-end COPY bulk load over a real socket (no live Postgres).

Upgrades the fake-connection unit pins: `copy_into_postgres` runs
through genuine ``foreachPartition`` executor calls, streaming
length-framed COPY payloads over TCP to an in-process server
(tests/pg_loopback.py) that applies psycopg2-style commit semantics
and ``FORMAT csv, NULL ''`` parsing. Mirrors reference
`reports_exporter_v0.83.py:1357-1372` (COPY-from-buffer bulk load).
"""

from __future__ import annotations

import datetime
import re

import pytest
from pyspark.sql import types as T

from tests.pg_loopback import FakePgServer, make_loopback_connect, parse_copy_csv
from train_reports_etl_spark.sinks.jdbc_copy import copy_into_postgres, encode_csv_rows

SCHEMA = T.StructType(
    [
        T.StructField("id", T.IntegerType()),
        T.StructField("name", T.StringType()),
        T.StructField("note", T.StringType()),
    ]
)

# NULL vs empty string, embedded quote/comma/newline, unicode — every
# encoding edge the COPY CSV path must round-trip.
ROWS = [
    (1, "plain", "ok"),
    (2, None, ""),  # NULL vs genuine empty string in one row
    (3, 'quote " inside', "comma, inside"),
    (4, "newline\ninside", "crlf\r\ninside"),
    (5, "unicodé — ✓", None),
]
EXPECTED = {tuple(None if v is None else str(v) for v in r) for r in ROWS}


def test_parse_copy_csv_inverts_encode():
    text, n = encode_csv_rows(iter(ROWS))
    assert n == len(ROWS)
    parsed = parse_copy_csv(text)
    assert {tuple(r) for r in parsed} == EXPECTED


def test_parse_copy_csv_edge_payloads():
    # newline-less payloads: a trailing comma still owes a NULL field
    assert parse_copy_csv("a,") == [["a", None]]
    assert parse_copy_csv("a") == [["a"]]
    assert parse_copy_csv('a,""') == [["a", ""]]
    assert parse_copy_csv("a,\r\n") == [["a", None]]
    assert parse_copy_csv("") == []
    assert parse_copy_csv(",") == [[None, None]]


def test_copy_into_postgres_over_socket(spark):
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(4)
    with FakePgServer() as server:
        copy_into_postgres(
            df,
            f"host=127.0.0.1 port={server.port} dbname=test",
            "analytics.loopback",
            connect=make_loopback_connect(server.port),
        )
        assert set(server.tables['"analytics"."loopback"']) == EXPECTED
        # one committed COPY per non-empty partition, each ≤ len(ROWS)
        commits = [e for e in server.events if e[0] == "copy_commit"]
        assert sum(e[2] for e in commits) == len(ROWS)
        assert 1 <= len(commits) <= 4


TYPED_COLS = [
    ("id", "bigint"),
    ("amount", "numeric(12,2)"),
    ("ok", "boolean"),
    ("day", "date"),
    ("label", "text"),
]


def _typed_server() -> "FakePgServer":
    server = FakePgServer()
    server.register_table('"typed"', TYPED_COLS, pk=("id",), pk_name="typed_pk")
    return server


def test_typed_copy_coerces_server_side(spark):
    """Server-side COPY input conversion: the CSV text Spark streams is
    parsed into typed values under Postgres input rules (leading zeros,
    boolean literal forms, ISO dates, Decimal — not float — numerics)."""
    from decimal import Decimal as D

    rows = [
        ("007", "10.50", "TRUE", "2024-02-29", "plain"),
        ("-8", "-0.01", "off", "1999-12-31", None),
    ]
    df = spark.createDataFrame(rows, "id string, amount string, ok string, day string, label string")
    with _typed_server() as server:
        copy_into_postgres(
            df, f"port={server.port}", "typed", connect=make_loopback_connect(server.port)
        )
        assert set(server.tables['"typed"']) == {
            (7, D("10.50"), True, datetime.date(2024, 2, 29), "plain"),
            (-8, D("-0.01"), False, datetime.date(1999, 12, 31), None),
        }


@pytest.mark.parametrize(
    ("bad_row", "msg_part"),
    [
        (("12abc", "1", "t", "2024-01-01", "x"), "invalid input syntax for type bigint"),
        (("1", "ten", "t", "2024-01-01", "x"), "invalid input syntax"),
        (("1", "1", "maybe", "2024-01-01", "x"), "type boolean"),
        (("1", "1", "t", "2024-13-40", "x"), "type date"),
        (("1", "1", "t", "2024-01-01", "nul\x00byte"), "0x00"),
        ((None, "1", "t", "2024-01-01", "x"), "not-null constraint"),
    ],
)
def test_typed_copy_rejects_bad_input_atomically(spark, bad_row, msg_part):
    """One bad row anywhere in the partition aborts that transaction:
    the Spark job fails with the server's error and NOTHING commits —
    not even the good rows staged before it (COPY is all-or-nothing
    inside its transaction)."""
    rows = [("1", "1.00", "t", "2024-01-01", "good"), bad_row]
    df = spark.createDataFrame(
        rows, "id string, amount string, ok string, day string, label string"
    ).repartition(1)
    with _typed_server() as server:
        with pytest.raises(Exception, match=re.escape(msg_part)):
            copy_into_postgres(
                df, f"port={server.port}", "typed", connect=make_loopback_connect(server.port)
            )
        assert server.tables.get('"typed"', []) == []


def test_pk_enforced_across_partition_transactions(spark):
    """Each partition commits its own transaction; a duplicate key in a
    later transaction fails THAT load while earlier commits stand —
    the real partial-load failure mode of a parallel COPY sink, which
    is why the idempotent delete-range overwrite (S11) fronts it."""
    df1 = spark.createDataFrame(
        [("1", "1.00", "t", "2024-01-01", "a")],
        "id string, amount string, ok string, day string, label string",
    ).coalesce(1)
    df2 = spark.createDataFrame(
        [("2", "2.00", "f", "2024-01-02", "b"), ("1", "9.99", "t", "2024-01-03", "dup")],
        "id string, amount string, ok string, day string, label string",
    ).coalesce(1)
    with _typed_server() as server:
        connect = make_loopback_connect(server.port)
        copy_into_postgres(df1, f"port={server.port}", "typed", connect=connect)
        with pytest.raises(Exception, match="duplicate key value"):
            copy_into_postgres(df2, f"port={server.port}", "typed", connect=connect)
        committed = server.tables['"typed"']
        assert len(committed) == 1 and committed[0][0] == 1  # df1 stands, df2 atomic-failed


def test_copy_column_count_mismatch_rejected():
    """COPY declaring 3 columns while the CSV rows carry 2 fields is a
    server-side error (Spark's encoder can't produce it — select() pins
    the width — so this drives the wire protocol directly)."""
    import io

    with _typed_server() as server:
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                cur.copy_expert(
                    'COPY "typed" ("id", "label", "ok") FROM STDIN '
                    "WITH (FORMAT csv, NULL '')",
                    io.StringIO('"1","x"\r\n'),
                )
            with pytest.raises(RuntimeError, match="missing data for column"):
                conn.commit()
        finally:
            conn.close()
        assert server.tables.get('"typed"', []) == []


def test_failed_partition_commits_nothing(spark):
    """A partition whose stream dies mid-COPY must leave no rows behind
    (psycopg2 transaction semantics: staged COPY discarded on close
    without commit)."""
    df = spark.createDataFrame(ROWS, SCHEMA).repartition(1)
    with FakePgServer() as server:
        # Bind the factory's RESULT (a by-value-picklable closure), not
        # the tests-module factory itself, into the executor closure.
        base_connect = make_loopback_connect(server.port)

        def poisoned_connect(dsn):
            conn = base_connect(dsn)
            real_commit = conn.commit

            def failing_commit():
                conn.close()  # simulate the socket dying before commit
                real_commit()

            conn.commit = failing_commit
            return conn

        with pytest.raises(Exception):
            copy_into_postgres(df, f"port={server.port}", "t", connect=poisoned_connect)
        assert server.tables.get('"t"', []) == []
        assert [e for e in server.events if e[0] == "copy_commit"] == []


# ---- review-hardening pins: the double must ERROR where Postgres
# errors (and with a real error message, not a dead socket), and must
# coerce with Postgres's modifier semantics, not Python's.


def _exec(server: "FakePgServer", sql: str) -> None:
    conn = make_loopback_connect(server.port)("")
    try:
        with conn.cursor() as cur:
            cur.execute(sql)
        # DDL is transactional (real PG rolls it back with the txn) —
        # commit, as every real psycopg2 DDL call site must. On an exec
        # error the commit is skipped and close() rolls back.
        conn.commit()
    finally:
        conn.close()


def test_add_pk_on_unknown_column_errors_cleanly():
    """ADD CONSTRAINT naming a column absent from the schema must come
    back as a server ERROR over the wire — not a ValueError that kills
    the connection thread (lost-cause ConnectionError), and never a
    silent half-registered PK that detonates on the NEXT commit."""
    with _typed_server() as server:
        with pytest.raises(RuntimeError, match='column "bogus" named in key'):
            _exec(server, 'ALTER TABLE "typed" ADD CONSTRAINT p2 PRIMARY KEY (bogus)')
        spec = server.schemas['"typed"']
        assert spec.pk == ("id",)  # untouched by the failed ADD
        assert spec.pk_name == "typed_pk"


def test_constraint_ddl_with_trailing_semicolon_recognized():
    """`...DROP CONSTRAINT typed_pk;` is valid SQL — the terminator
    must not make the DDL silently unrecognized (pk would stay active
    and the bulk load would fail for the WRONG reason)."""
    with _typed_server() as server:
        _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk;')
        assert server.schemas['"typed"'].pk_active is False
        _exec(server, 'ALTER TABLE "typed" ADD CONSTRAINT typed_pk PRIMARY KEY (id);')
        assert server.schemas['"typed"'].pk_active is True


def test_unsupported_constraint_ddl_on_typed_table_is_loud():
    """An enforcement double that silently ignores constraint DDL on a
    typed table recreates the fidelity gap it exists to close."""
    with _typed_server() as server:
        with pytest.raises(RuntimeError, match="unsupported constraint DDL"):
            _exec(
                server,
                'ALTER TABLE "typed" ADD CONSTRAINT u UNIQUE (label)',
            )


def test_add_pk_over_null_key_values_errors():
    """Postgres's ADD PRIMARY KEY fails on NULL key values, not just
    duplicates — recreate-time validation must match."""
    with _typed_server() as server:
        server.register_table('"nk"', [("id", "bigint"), ("x", "text")])
        server.tables['"nk"'] = [(1, "a"), (None, "b")]
        with pytest.raises(RuntimeError, match='column "id" contains null values'):
            _exec(server, 'ALTER TABLE "nk" ADD CONSTRAINT nk_pk PRIMARY KEY (id)')
        assert server.schemas['"nk"'].pk is None  # ADD did not take effect


def test_numeric_typmod_rounds_and_overflows():
    """numeric(p,s) input is rounded to scale s (half away from zero)
    and raises `numeric field overflow` past precision — storing
    '10.505' verbatim would diverge from any real Postgres."""
    from decimal import Decimal as D

    from tests.pg_loopback import CopyError, coerce_pg_value

    assert coerce_pg_value("10.505", "numeric(12,2)", "c") == D("10.51")
    assert coerce_pg_value("-10.505", "numeric(12,2)", "c") == D("-10.51")
    assert coerce_pg_value("10.50", "numeric(12,2)", "c") == D("10.50")
    assert coerce_pg_value("7", "numeric(5)", "c") == D("7")
    with pytest.raises(CopyError, match="numeric field overflow"):
        coerce_pg_value("12345678901.00", "numeric(12,2)", "c")
    # untouched when no modifier is declared
    assert coerce_pg_value("10.505", "numeric", "c") == D("10.505")


def test_varchar_typmod_length_enforced():
    """varchar(n)/char(n): over-length errors unless the excess is all
    spaces (then truncates) — the documented Postgres rule."""
    from tests.pg_loopback import CopyError, coerce_pg_value

    assert coerce_pg_value("abc", "varchar(3)", "c") == "abc"
    assert coerce_pg_value("abc   ", "varchar(3)", "c") == "abc"
    with pytest.raises(CopyError, match="value too long"):
        coerce_pg_value("abcd", "varchar(3)", "c")
    with pytest.raises(CopyError, match="value too long"):
        coerce_pg_value("ab  x", "character varying(3)", "c")
    assert coerce_pg_value("abcd", "text", "c") == "abcd"  # text is unbounded


def test_float_input_uses_pg_grammar_not_python():
    """Python's float() accepts '1_0'; Postgres raises. Special words
    Infinity/NaN ARE valid Postgres float input."""
    import math

    from tests.pg_loopback import CopyError, coerce_pg_value

    with pytest.raises(CopyError, match="invalid input syntax"):
        coerce_pg_value("1_0", "real", "c")
    with pytest.raises(CopyError, match="invalid input syntax"):
        coerce_pg_value("0x10", "double precision", "c")
    assert coerce_pg_value("1.5e3", "float8", "c") == 1500.0
    assert coerce_pg_value("-Infinity", "real", "c") == float("-inf")
    assert math.isnan(coerce_pg_value("NaN", "real", "c"))


def test_drop_constraint_wrong_name_errors():
    """Postgres errors on DROP CONSTRAINT naming a constraint that does
    not exist — a double that shrugs turns a typo'd drop into a
    misleading duplicate-key failure at COPY time, and dropping an
    ALREADY-dropped PK must error the same way."""
    with _typed_server() as server:
        with pytest.raises(RuntimeError, match='constraint "wrong_name" of relation'):
            _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT wrong_name')
        assert server.schemas['"typed"'].pk_active is True  # untouched
        _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
        with pytest.raises(RuntimeError, match='constraint "typed_pk" of relation'):
            _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk')


def test_second_primary_key_rejected_while_first_active():
    """Postgres 42P16: a second ADD PRIMARY KEY cannot silently replace
    an active one — subsequent COPYs would validate against the wrong
    key. Unknown key columns still resolve FIRST (parse analysis runs
    before DefineIndex's multiple-PK check)."""
    with _typed_server() as server:
        with pytest.raises(RuntimeError, match="multiple primary keys"):
            _exec(server, 'ALTER TABLE "typed" ADD CONSTRAINT p2 PRIMARY KEY (label)')
        spec = server.schemas['"typed"']
        assert (spec.pk, spec.pk_name, spec.pk_active) == (("id",), "typed_pk", True)
        # column resolution precedes the multiple-PK check, as in PG
        with pytest.raises(RuntimeError, match='column "bogus" named in key'):
            _exec(server, 'ALTER TABLE "typed" ADD CONSTRAINT p3 PRIMARY KEY (bogus)')


def test_copy_without_column_list_rejected():
    """Valid PG syntax, but the double cannot know the intended column
    order — and the old parser would mis-split on "(FORMAT", landing
    rows under a mangled key with typed enforcement silently bypassed.
    Reject loudly instead."""
    import io

    with _typed_server() as server:
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                cur.copy_expert(
                    'COPY "typed" FROM STDIN WITH (FORMAT csv, NULL \'\')',
                    io.StringIO('"1","x","t"\r\n'),
                )
            with pytest.raises(RuntimeError, match="without an explicit column list"):
                conn.commit()
        finally:
            conn.close()
        # nothing landed anywhere — neither the real key nor a mangled one
        assert all(rows == [] for rows in server.tables.values())


def test_wide_numeric_reports_overflow_not_syntax():
    """numeric('1e30') into numeric(12,2): the default Decimal context
    (28 digits) makes quantize raise InvalidOperation, which the generic
    handler would misreport as a SYNTAX error; Postgres calls it
    overflow. NaN stays storable regardless of declared precision."""
    from tests.pg_loopback import CopyError, coerce_pg_value

    with pytest.raises(CopyError, match="numeric field overflow"):
        coerce_pg_value("1e30", "numeric(12,2)", "c")
    with pytest.raises(CopyError, match="numeric field overflow"):
        coerce_pg_value("Infinity", "numeric(12,2)", "c")
    assert coerce_pg_value("NaN", "numeric(12,2)", "c").is_nan()
    # wide-but-fitting still quantizes fine under the sized context
    assert str(coerce_pg_value("1e25", "numeric(30,2)", "c")) == "1" + "0" * 25 + ".00"


def test_snan_and_nan_numeric_semantics():
    """sNaN is not PG numeric grammar (and is unhashable in Python — it
    would kill the serve thread in the PK probe, a dead socket instead
    of a server error); plain NaN IS storable, and PG's unique index
    treats NaN = NaN, so duplicate-NaN keys must be rejected."""
    from tests.pg_loopback import CopyError, FakePgServer, coerce_pg_value

    with pytest.raises(CopyError, match="invalid input syntax"):
        coerce_pg_value("sNaN", "numeric(12,2)", "c")
    # exponent beyond the default Decimal Emax is overflow, not syntax
    with pytest.raises(CopyError, match="numeric field overflow"):
        coerce_pg_value("1E+1000000", "numeric(12,2)", "c")

    server = FakePgServer()
    server.register_table(
        '"m"', [("v", "numeric(10,2)")], pk=("v",), pk_name="m_pk"
    )
    with server:
        conn = make_loopback_connect(server.port)("")
        try:
            import io

            with conn.cursor() as cur:
                cur.copy_expert(
                    'COPY "m" ("v") FROM STDIN WITH (FORMAT csv, NULL \'\')',
                    io.StringIO('"NaN"\r\n"NaN"\r\n'),
                )
            with pytest.raises(RuntimeError, match="duplicate key value"):
                conn.commit()
        finally:
            conn.close()


def test_unquoted_identifiers_fold_to_lowercase():
    """PG folds unquoted identifiers: DROP CONSTRAINT TYPED_PK must
    drop typed_pk (the double previously hard-errored on DDL real PG
    accepts), and an unquoted ADD name is stored folded."""
    with _typed_server() as server:
        _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT TYPED_PK')
        assert server.schemas['"typed"'].pk_active is False
        _exec(server, 'ALTER TABLE "typed" ADD CONSTRAINT Typed_PK PRIMARY KEY (id)')
        spec = server.schemas['"typed"']
        assert (spec.pk_name, spec.pk_active) == ("typed_pk", True)


def test_copy_column_list_with_paren_in_quoted_ident():
    """A quoted column name containing ')' must not end the column
    list early (nor get the statement misreported as having no column
    list): quote-aware parsing, matching what copy_sql can legally
    emit via quote_ident."""
    from train_reports_etl_spark.sinks.jdbc_copy import copy_sql

    sql = copy_sql("t", ["a)b", "c"])
    server = FakePgServer()
    server.register_table('"t"', [("a)b", "text"), ("c", "text")])
    with server:
        conn = make_loopback_connect(server.port)("")
        try:
            import io

            with conn.cursor() as cur:
                cur.copy_expert(sql, io.StringIO('"x","y"\r\n'))
            conn.commit()
        finally:
            conn.close()
        assert server.tables['"t"'] == [("x", "y")]


def test_nan_variants_and_float_nan_pk():
    """PG's numeric grammar accepts only bare case-insensitive 'NaN':
    signed '-NaN' and payload 'NaN123' (both valid Decimal literals)
    must raise invalid-input-syntax. Float btrees treat NaN = NaN too,
    so duplicate float-NaN PK keys must collide like numeric ones; the
    duplicate message shows the real value, not the sentinel."""
    from tests.pg_loopback import CopyError, FakePgServer, coerce_pg_value

    for bad in ("-NaN", "NaN123", "sNaN", "+nan"):
        with pytest.raises(CopyError, match="invalid input syntax"):
            coerce_pg_value(bad, "numeric(12,2)", "c")
    # Unicode Nd digits: Python's Decimal/int/float parse them, PG's
    # input functions do not — every numeric branch must be ASCII-only.
    for bad, typ in (("١٢٣", "numeric(12,2)"), ("１２３", "bigint"), ("٣.٥", "real")):
        with pytest.raises(CopyError, match="invalid input syntax"):
            coerce_pg_value(bad, typ, "c")
    assert coerce_pg_value("nan", "numeric(12,2)", "c").is_nan()
    # astronomically wide exponent: O(1) overflow, no 100M-digit quantize
    with pytest.raises(CopyError, match="numeric field overflow"):
        coerce_pg_value("1E+100000000", "numeric(12,2)", "c")
    # zero always fits, even when p == s (no integer digits allowed)
    assert str(coerce_pg_value("0", "numeric(2,2)", "c")) == "0.00"

    server = FakePgServer()
    server.register_table('"f"', [("v", "double precision")], pk=("v",), pk_name="f_pk")
    with server:
        conn = make_loopback_connect(server.port)("")
        try:
            import io

            with conn.cursor() as cur:
                cur.copy_expert(
                    'COPY "f" ("v") FROM STDIN WITH (FORMAT csv, NULL \'\')',
                    io.StringIO('"NaN"\r\n"NaN"\r\n'),
                )
            with pytest.raises(RuntimeError, match=r"=\(nan,\) already exists"):
                conn.commit()
        finally:
            conn.close()


def test_add_pk_with_paren_in_quoted_column():
    """The quote-aware list parse applies to ADD CONSTRAINT too: a
    quoted key column containing ')' must register, not fall through
    to the 'unsupported constraint DDL' catch-all."""
    server = FakePgServer()
    server.register_table('"p"', [("a)b", "bigint")])
    with server:
        _exec(server, 'ALTER TABLE "p" ADD CONSTRAINT p_pk PRIMARY KEY ("a)b")')
        spec = server.schemas['"p"']
        assert (spec.pk, spec.pk_active) == (("a)b",), True)


def _wait_for(cond, timeout: float = 5.0) -> None:
    """Spin until ``cond()`` — the close-without-commit rollback runs in
    the server's connection thread when it notices EOF, asynchronously
    relative to the test thread's ``close()`` return."""
    import time

    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:  # pragma: no cover — test failure path
            raise AssertionError("condition not reached before timeout")
        time.sleep(0.01)


def test_ddl_rolls_back_on_close_without_commit():
    """Postgres DDL is transactional: an ALTER TABLE executed but never
    committed must vanish when the connection closes — otherwise a
    failed drop→load→recreate retry path gets validated against
    constraint state real PG would never exhibit (pk_active left False
    by an uncommitted/aborted drop)."""
    with _typed_server() as server:
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                cur.execute('ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
            # visible inside the open transaction, as in PG
            assert server.schemas['"typed"'].pk_active is False
        finally:
            conn.close()  # no commit: the drop rolls back
        _wait_for(lambda: server.schemas['"typed"'].pk_active is True)
        spec = server.schemas['"typed"']
        assert (spec.pk, spec.pk_name) == (("id",), "typed_pk")


def test_ddl_rolls_back_on_aborted_copy_commit():
    """A CopyError at commit aborts the WHOLE transaction — the staged
    COPY dies (already pinned) and so must any DDL executed in the same
    transaction."""
    import io

    with _typed_server() as server:
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                cur.execute('ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
                cur.copy_expert(
                    'COPY "typed" ("id", "amount", "ok", "day", "label")'
                    " FROM STDIN WITH (FORMAT csv, NULL '')",
                    io.StringIO('"not-a-bigint","1.00","t","2024-01-01","x"\r\n'),
                )
            with pytest.raises(RuntimeError, match="invalid input syntax"):
                conn.commit()
            # abort restored the PK dropped earlier in this transaction
            assert server.schemas['"typed"'].pk_active is True
            assert server.tables.get('"typed"', []) == []
        finally:
            conn.close()


def test_rejected_ddl_not_logged_as_executed():
    """DDL the server refused must not appear in the event log under
    ("exec", ...) — order assertions would otherwise pass for
    statements that actually errored. It is recorded as
    ("exec_rejected", ...) instead."""
    with _typed_server() as server:
        with pytest.raises(RuntimeError, match="does not exist"):
            _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT wrong_name')
        kinds = [e[0] for e in server.events]
        assert kinds == ["exec_rejected"]
        assert "wrong_name" in server.events[0][1]


def test_committed_ddl_survives_later_abort():
    """Only the aborting transaction's DDL rolls back: a drop committed
    on one connection stays dropped when a LATER transaction aborts."""
    import io

    with _typed_server() as server:
        _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                cur.copy_expert(
                    'COPY "typed" ("id", "amount", "ok", "day", "label")'
                    " FROM STDIN WITH (FORMAT csv, NULL '')",
                    io.StringIO('"x","1.00","t","2024-01-01","a"\r\n'),
                )
            with pytest.raises(RuntimeError, match="invalid input syntax"):
                conn.commit()
        finally:
            conn.close()
        assert server.schemas['"typed"'].pk_active is False  # drop stands


def test_abort_preserves_other_connections_committed_ddl():
    """The rollback journal is scoped to the tables the transaction's
    OWN DDL touched: a drop committed by connection B on table "typed"
    while connection A's transaction was open must survive A's abort.
    Discriminating setup: A execs DDL on a DIFFERENT table ("other")
    inside its transaction — the pre-fix whole-schema snapshot was
    captured at that exec and included "typed"'s pk_active=True, so
    A's abort would revert B's committed drop; the per-table journal
    records only "other"."""
    import io
    import time as _t

    with _typed_server() as server:
        server.register_table(
            '"other"', [("id", "bigint")], pk=("id",), pk_name="other_pk"
        )
        conn_a = make_loopback_connect(server.port)("")
        try:
            with conn_a.cursor() as cur:
                # A's own DDL (journals "other" only) + a staged COPY
                cur.execute('ALTER TABLE "other" DROP CONSTRAINT other_pk')
                cur.copy_expert(
                    'COPY "typed" ("id", "amount", "ok", "day", "label")'
                    " FROM STDIN WITH (FORMAT csv, NULL '')",
                    io.StringIO('"bad-int","1.00","t","2024-01-01","x"\r\n'),
                )
            # B drops typed's PK and commits on its own connection
            _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
            assert server.schemas['"typed"'].pk_active is False
            # A aborts — its own drop on "other" rolls back, but B's
            # committed drop on "typed" must stand
            with pytest.raises(RuntimeError, match="invalid input syntax"):
                conn_a.commit()
            assert server.schemas['"other"'].pk_active is True
            assert server.schemas['"typed"'].pk_active is False
        finally:
            conn_a.close()
        # the close-path restore runs async in the server thread; give
        # it a real grace window and assert the drop NEVER flips back
        # (we cannot wait on an event that must not happen)
        deadline = _t.monotonic() + 0.5
        while _t.monotonic() < deadline:
            assert server.schemas['"typed"'].pk_active is False
            _t.sleep(0.02)


_COPY_TYPED = (
    'COPY "typed" ("id", "amount", "ok", "day", "label")'
    " FROM STDIN WITH (FORMAT csv, NULL '')"
)


def test_aborted_transaction_ignores_statements_until_rollback():
    """Real-PG aborted-block semantics (round-8, closing the documented
    error-then-continue permissiveness): after a statement error inside
    a transaction, every further exec/copy on that connection fails
    with "current transaction is aborted" — none execute — until
    ROLLBACK ends the block, after which the connection works again."""
    import io

    with _typed_server() as server:
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                with pytest.raises(RuntimeError, match="does not exist"):
                    cur.execute('ALTER TABLE "typed" DROP CONSTRAINT wrong_name')
                # latched: valid DDL and COPY are both ignored now
                with pytest.raises(RuntimeError, match="transaction is aborted"):
                    cur.execute('ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
                with pytest.raises(RuntimeError, match="transaction is aborted"):
                    cur.copy_expert(
                        _COPY_TYPED, io.StringIO('"1","1.00","t","2024-01-01","a"\r\n')
                    )
            assert server.schemas['"typed"'].pk_active is True  # nothing ran
            conn.rollback()
            # block ended — same connection is usable again
            with conn.cursor() as cur:
                cur.execute('ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
            conn.commit()
            assert server.schemas['"typed"'].pk_active is False
        finally:
            conn.close()
        kinds = [e[0] for e in server.events]
        assert kinds == [
            "exec_rejected",
            "ignored_aborted",
            "ignored_aborted",
            "rollback",
            "exec",
        ]


def test_commit_in_aborted_block_acts_as_rollback():
    """COMMIT issued in an aborted block is PG's silent ROLLBACK: it
    raises nothing, commits nothing (the pre-error DDL rolls back, the
    pre-error staged COPY dies), and ends the block."""
    import io

    with _typed_server() as server:
        conn = make_loopback_connect(server.port)("")
        try:
            with conn.cursor() as cur:
                # journaled DDL + staged COPY, then a mid-tx error
                cur.execute('ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
                cur.copy_expert(
                    _COPY_TYPED, io.StringIO('"1","1.00","t","2024-01-01","a"\r\n')
                )
                with pytest.raises(RuntimeError, match="does not exist"):
                    cur.execute('ALTER TABLE "typed" DROP CONSTRAINT wrong_name')
            conn.commit()  # no error — but it is a rollback
            assert server.schemas['"typed"'].pk_active is True  # DDL rolled back
            assert server.tables.get('"typed"', []) == []  # COPY died
            assert ("commit_became_rollback",) in server.events
            # block ended — a fresh transaction on the SAME connection
            # commits normally
            with conn.cursor() as cur:
                cur.copy_expert(
                    _COPY_TYPED, io.StringIO('"2","2.00","f","2024-01-02","b"\r\n')
                )
            conn.commit()
            assert [r[0] for r in server.tables['"typed"']] == [2]
        finally:
            conn.close()


def test_interleaved_connections_staged_copy_sees_committed_writes():
    """Two interleaved connections against the same table (the
    concurrent-writer class): A stages a COPY of id=1, B commits its
    own id=1 in between, A's commit must fail duplicate-key — COPY
    validation runs against the table state AS OF A's commit (READ
    COMMITTED visibility of B's committed row), not as of staging.
    B's committed row survives A's abort."""
    import io

    with _typed_server() as server:
        conn_a = make_loopback_connect(server.port)("")
        conn_b = make_loopback_connect(server.port)("")
        try:
            with conn_a.cursor() as cur:
                cur.copy_expert(
                    _COPY_TYPED, io.StringIO('"1","1.00","t","2024-01-01","a"\r\n')
                )
            # B sneaks its own id=1 in and commits first
            with conn_b.cursor() as cur:
                cur.copy_expert(
                    _COPY_TYPED, io.StringIO('"1","9.99","f","2024-01-02","b"\r\n')
                )
            conn_b.commit()
            with pytest.raises(RuntimeError, match="duplicate key value"):
                conn_a.commit()
            rows = server.tables['"typed"']
            assert len(rows) == 1 and rows[0][4] == "b"  # B's row stands alone
        finally:
            conn_a.close()
            conn_b.close()


def test_pk_added_between_stage_and_commit_enforces_at_commit():
    """VERDICT r08 stretch: the ADD direction of concurrent DDL vs a
    staged COPY. Under no PK, connection A stages a duplicate id=1;
    B then ADDs the PK (its validation sees only COMMITTED rows — A's
    staged data must be invisible to it); A's commit is validated
    against the schema CURRENT at commit time, so the new PK rejects
    the duplicate and nothing of A survives.

    Divergence documented: real Postgres's ALTER TABLE ... ADD
    CONSTRAINT takes ACCESS EXCLUSIVE and would BLOCK until A's
    transaction ends (and COPY errors surface at execution under the
    then-held lock, statement-level); the lock-free staged double
    models the post-unblock outcome — commit-time validation against
    the committed schema — which is the same final table state."""
    import io

    with _typed_server() as server:
        conn0 = make_loopback_connect(server.port)("")
        with conn0.cursor() as cur:
            cur.copy_expert(
                _COPY_TYPED, io.StringIO('"1","1.00","t","2024-01-01","a"\r\n')
            )
        conn0.commit()
        conn0.close()
        _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk')
        conn_a = make_loopback_connect(server.port)("")
        try:
            with conn_a.cursor() as cur:  # duplicate, staged while NO PK
                cur.copy_expert(
                    _COPY_TYPED, io.StringIO('"1","2.00","f","2024-01-02","dup"\r\n')
                )
            # B re-adds the PK: validates COMMITTED rows only (one id=1
            # row exists -> succeeds; A's staged duplicate is invisible)
            _exec(
                server,
                'ALTER TABLE "typed" ADD CONSTRAINT typed_pk PRIMARY KEY (id)',
            )
            with pytest.raises(RuntimeError, match="duplicate key value"):
                conn_a.commit()
            rows = server.tables['"typed"']
            assert len(rows) == 1 and rows[0][4] == "a"
        finally:
            conn_a.close()


def test_interleaved_ddl_and_staged_copy_validation_is_commit_time():
    """DDL committed by B while A's COPY sits staged changes what A's
    commit enforces: A stages a duplicate under an active PK, B drops
    the PK and commits, A's commit then succeeds — pinning that the
    double's constraint enforcement is commit-time against current
    schema (the modeled behavior; real PG would enforce at COPY
    execution under the then-held lock, a documented divergence of the
    staged design)."""
    import io

    with _typed_server() as server:
        # existing committed row id=1
        conn0 = make_loopback_connect(server.port)("")
        with conn0.cursor() as cur:
            cur.copy_expert(
                _COPY_TYPED, io.StringIO('"1","1.00","t","2024-01-01","a"\r\n')
            )
        conn0.commit()
        conn0.close()
        conn_a = make_loopback_connect(server.port)("")
        try:
            with conn_a.cursor() as cur:  # duplicate, staged while PK active
                cur.copy_expert(
                    _COPY_TYPED, io.StringIO('"1","2.00","f","2024-01-02","dup"\r\n')
                )
            _exec(server, 'ALTER TABLE "typed" DROP CONSTRAINT typed_pk')  # B
            conn_a.commit()  # PK gone at commit time — loads fine
            assert sorted(r[4] for r in server.tables['"typed"']) == ["a", "dup"]
        finally:
            conn_a.close()
