"""In-process socket loopback for the Postgres COPY sink tests.

The sandbox has no Postgres, but the COPY fast path
(`train_reports_etl_spark/sinks/jdbc_copy.py`, mirroring reference
`reports_exporter_v0.83.py:1357-1372`) deserves more than fake-connection unit pins: this module
provides a tiny TCP server so `copy_into_postgres` runs through REAL
`foreachPartition` executor calls with real bytes on a real socket.

Protocol (not pg-wire — deliberately minimal): length-framed JSON
messages ``{"op": "exec"|"copy"|"commit"|"rollback", ...}``. ``copy``
payloads are staged per-connection and applied atomically on ``commit``
— matching psycopg2 transaction semantics, so a partition that dies
mid-stream leaves nothing behind. After any error the connection
latches **aborted** exactly like real PG: further ``exec``/``copy``
fail with "current transaction is aborted, commands ignored until end
of transaction block" until ``rollback`` (or a ``commit``, which
silently becomes a rollback — PG's command-tag behavior). The server parses the COPY CSV with genuine
``FORMAT csv, NULL ''`` semantics: an *unquoted* empty field is NULL, a
*quoted* ``""`` is an empty string — the exact distinction
``encode_csv_rows`` encodes.

Tables may optionally be *typed* via :meth:`FakePgServer.register_table`
— then commits enforce the server-side behaviors a real Postgres would
(the gap called out for S9 when this double only checked DDL ordering):

- **COPY input coercion** per declared type: strict integer parsing
  (``12abc`` errors), ``numeric`` → :class:`decimal.Decimal`, the full
  Postgres boolean literal set (``t/f/true/false/yes/no/on/off/1/0``,
  case-insensitive), ISO ``date``/``timestamp``, and NUL-byte rejection
  in ``text`` (Postgres stores no ``\\x00``).
- **NOT NULL** and **PRIMARY KEY** enforcement at COPY time, with the
  whole transaction aborted atomically on the first bad row (psycopg2
  aborts the transaction on any COPY error; nothing staged survives).
- **Constraint lifecycle**: ``ALTER TABLE ... DROP CONSTRAINT`` /
  ``ADD CONSTRAINT ... PRIMARY KEY (...)`` DDL is parsed from ``exec``
  messages; *re-adding* a PK fails on an existing NULL key value
  (existing duplicate keys are not checked).
- **Faithful error surface** (review-hardened): DROP of a wrong or
  already-dropped constraint errors ("does not exist"); a second ADD
  PRIMARY KEY while one is active errors (42P16); unquoted identifiers
  fold to lowercase, quoted ones stay case-sensitive (quote-aware list
  parsing — a quoted name may contain ``,``/``)``); numeric input is
  ASCII-grammar-only (Unicode digits, ``sNaN``/``-NaN``/``NaN123``
  rejected), wide values report *overflow* not syntax (O(1) pre-check),
  and NaN keys collide in unique indexes as PG's btrees do.

Unregistered tables keep the legacy untyped behavior (raw strings, no
enforcement), so existing tests are unaffected.

``make_loopback_connect(port)`` returns a psycopg2-shaped ``connect``
whose client classes are defined INSIDE the closure, so cloudpickle
ships them by value to Spark's Python workers (no test-module import
needed executor-side).
"""

from __future__ import annotations

import datetime
import json
import math
import re
import socket
import struct
import threading
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation, localcontext


def split_ident_list(s: str) -> list[str]:
    """Split a SQL identifier list on commas OUTSIDE double quotes,
    applying PG identifier semantics: quoted names unescape doubled
    quotes and keep case/any characters (including ',' and ')');
    unquoted names fold to lowercase."""
    parts: list[str] = []
    cur: list[str] = []
    in_quote = False
    for ch in s:
        if ch == '"':
            in_quote = not in_quote
            cur.append(ch)
        elif ch == "," and not in_quote:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    out: list[str] = []
    for tok in (p.strip() for p in parts):
        if tok.startswith('"') and tok.endswith('"') and len(tok) >= 2:
            out.append(tok[1:-1].replace('""', '"'))
        else:
            out.append(tok.lower())
    return out


def parse_copy_csv(text: str) -> list[list[str | None]]:
    """Parse COPY ``FORMAT csv, NULL ''`` payload preserving the
    quoted/unquoted distinction: unquoted empty → None (NULL), quoted
    fields unescape doubled quotes and may contain commas/newlines."""
    rows: list[list[str | None]] = []
    row: list[str | None] = []
    i, n = 0, len(text)
    pending = False  # a comma was consumed, so one more field is owed
    while i < n:
        chars: list[str] = []
        quoted = text[i] == '"'
        if quoted:
            i += 1
            while i < n:
                c = text[i]
                if c == '"':
                    if i + 1 < n and text[i + 1] == '"':
                        chars.append('"')
                        i += 2
                    else:
                        i += 1
                        break
                else:
                    chars.append(c)
                    i += 1
        else:
            while i < n and text[i] not in (",", "\r", "\n"):
                chars.append(text[i])
                i += 1
        row.append("".join(chars) if (quoted or chars) else None)
        if i < n and text[i] == ",":
            i += 1
            pending = True
            continue
        pending = False
        if i < n and text[i] == "\r":
            i += 1
        if i < n and text[i] == "\n":
            i += 1
        rows.append(row)
        row = []
    if pending:
        # payload ended right after a comma: the owed trailing field is
        # an unquoted empty → NULL ('a,' parses as ['a', None])
        row.append(None)
    if row:
        rows.append(row)
    return rows


# Postgres boolean input literals (`parse_bool_with_len`): full words,
# unique prefixes of true/false, and yes/no/on/off/1/0 — the double
# accepts the full-word set COPY actually sees from CSV encoders.
_PG_TRUE = {"t", "true", "yes", "on", "1", "y"}
_PG_FALSE = {"f", "false", "no", "off", "0", "n"}


class CopyError(ValueError):
    """A server-side COPY/DDL rejection — message mirrors the
    ``ERROR:  invalid input syntax for type ...`` family."""


# Postgres float input: plain/decimal/scientific literals plus the
# special words — NOT Python's float() grammar ('1_0' parses in Python
# but is a syntax error to Postgres).
_PG_FLOAT = re.compile(
    r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?|[+-]?(inf(inity)?|nan)",
    re.IGNORECASE | re.ASCII,
)

# PG's numeric grammar: ASCII digits only (Python's Decimal/int/float all
# accept Unicode Nd digits like '١٢٣', which real numeric_in rejects),
# optional exponent, or the special words NaN (bare only) / ±Infinity.
_PG_NUMERIC = re.compile(
    r"[+-]?(\d+(\.\d*)?|\.\d+)([eE][+-]?\d+)?|nan|[+-]?inf(inity)?",
    re.IGNORECASE | re.ASCII,
)

# quote-aware SQL identifier-list fragment shared by the COPY and ADD
# CONSTRAINT parsers: a quoted identifier (doubled quotes escaped) may
# contain ')' or ',' without ending the list; at least one character.
_IDENT_LIST = r'((?:"(?:[^"]|"")*"|[^")])+)'

# Optional (p[,s]) / (n) length modifier after a type name.
_TYPMOD = re.compile(r"^\s*([a-z ]+?)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)\s*$")


def coerce_pg_value(value: str | None, typ: str, col: str):
    """Apply Postgres COPY input conversion for one CSV field.

    Raises :class:`CopyError` on invalid input, as COPY does — the
    transaction containing the COPY is then aborted wholesale.
    Type modifiers are enforced: ``numeric(p,s)`` rounds input to
    scale ``s`` (half away from zero, as Postgres does) and raises
    ``numeric field overflow`` past precision; ``varchar(n)`` /
    ``character(n)`` raise ``value too long`` unless the excess is
    all spaces (then truncate), matching the Postgres rule.
    """
    if value is None:
        return None
    t = typ.lower()
    mod = _TYPMOD.match(t)
    p_mod = s_mod = None
    if mod:
        t = mod.group(1)
        p_mod = int(mod.group(2))
        s_mod = int(mod.group(3)) if mod.group(3) is not None else None
    s = value.strip() if t != "text" else value
    try:
        if t in ("smallint", "int", "integer", "int4", "bigint", "int8"):
            if not re.fullmatch(r"[+-]?\d+", s, re.ASCII):
                raise CopyError(
                    f'invalid input syntax for type {t}: "{value}" (column {col})'
                )
            n = int(s)
            bits = 15 if t == "smallint" else 31 if t in ("int", "integer", "int4") else 63
            if not -(1 << bits) <= n < (1 << bits):
                raise CopyError(f'value "{value}" is out of range for type {t} (column {col})')
            return n
        if t in ("real", "float4", "float8", "double precision", "float"):
            if not _PG_FLOAT.fullmatch(s):
                raise CopyError(
                    f'invalid input syntax for type {t}: "{value}" (column {col})'
                )
            return float(s)
        if t in ("numeric", "decimal"):
            if not _PG_NUMERIC.fullmatch(s):
                # Rejects everything Decimal() parses but numeric_in does
                # not: Unicode digits ('١٢٣'), 'sNaN' (unhashable in
                # Python — it would crash the PK set probe into a dead
                # socket), signed '-NaN', payloads like 'NaN123'.
                raise CopyError(
                    f'invalid input syntax for type {t}: "{value}" (column {col})'
                )
            d = Decimal(s)
            if p_mod is not None and not d.is_nan():
                scale = s_mod if s_mod is not None else 0
                overflow = CopyError(
                    f"numeric field overflow (column {col}): a field with "
                    f"precision {p_mod}, scale {scale} must round to an "
                    f"absolute value less than 10^{p_mod - scale}"
                )
                if d.is_infinite():
                    # PG: infinity is disallowed in constrained numeric.
                    raise CopyError(
                        f"numeric field overflow (column {col}): a field with "
                        f"precision {p_mod}, scale {scale} cannot hold an "
                        "infinite value"
                    )
                if d and d.adjusted() >= p_mod - scale:
                    # |d| >= 10^(p-s) is guaranteed overflow — report it in
                    # O(1) instead of letting quantize materialize a
                    # coefficient as wide as the exponent (1E+100000000
                    # would allocate ~100M digits just to fail the
                    # digit-count check below). Rounding-up overflow
                    # (999.995 -> 1000.00) still lands in that check.
                    raise overflow
                with localcontext() as ctx:
                    # The default context limits (prec=28, Emax=999999)
                    # make quantize raise InvalidOperation for wide inputs
                    # — which the generic handler would misreport as a
                    # syntax error — so size both to the input. (Emax only
                    # binds for typmods with p-s > 999999, which real PG
                    # rejects at DDL time but register_table does not.)
                    tup = d.as_tuple()
                    width = len(tup.digits) + max(tup.exponent, 0) + scale + 8
                    ctx.prec = width
                    ctx.Emax = max(ctx.Emax, width)
                    d = d.quantize(Decimal(1).scaleb(-scale), rounding=ROUND_HALF_UP)
                # The quantized coefficient has exactly `scale` fractional
                # digits; precision p allows p-s digits before the point.
                if len(d.as_tuple().digits) - scale > p_mod - scale:
                    raise overflow
            return d
        if t in ("boolean", "bool"):
            low = s.lower()
            if low in _PG_TRUE:
                return True
            if low in _PG_FALSE:
                return False
            raise CopyError(f'invalid input syntax for type boolean: "{value}" (column {col})')
        if t == "date":
            return datetime.date.fromisoformat(s)
        if t.startswith("timestamp"):
            return datetime.datetime.fromisoformat(s)
        if t in ("text", "varchar", "character varying", "character", "char", "bpchar"):
            if "\x00" in value:
                raise CopyError(f"invalid byte sequence for encoding UTF8: 0x00 (column {col})")
            if p_mod is not None and len(value) > p_mod:
                # Postgres rule: over-length errors UNLESS the excess is
                # all spaces, in which case it truncates to n.
                if value[p_mod:].strip(" "):
                    raise CopyError(
                        f"value too long for type {typ} (column {col})"
                    )
                value = value[:p_mod]
            return value
    except (ValueError, InvalidOperation) as e:
        if isinstance(e, CopyError):
            raise
        raise CopyError(
            f'invalid input syntax for type {t}: "{value}" (column {col})'
        ) from e
    raise CopyError(f"unknown declared type {typ!r} for column {col}")


class TableSpec:
    """Declared column types + constraints for a typed loopback table."""

    def __init__(
        self,
        columns: list[tuple[str, str]],
        pk: tuple[str, ...] | None = None,
        pk_name: str = "pk",
        not_null: tuple[str, ...] = (),
    ) -> None:
        self.types = dict(columns)
        self.pk = tuple(pk) if pk else None
        self.pk_name = pk_name
        self.not_null = set(not_null) | (set(self.pk) if self.pk else set())
        self.pk_active = self.pk is not None


def _recv_frame(conn: socket.socket) -> bytes | None:
    header = b""
    while len(header) < 4:
        chunk = conn.recv(4 - len(header))
        if not chunk:
            return None
        header += chunk
    (length,) = struct.unpack(">I", header)
    body = b""
    while len(body) < length:
        chunk = conn.recv(min(65536, length - len(body)))
        if not chunk:
            return None
        body += chunk
    return body


def _send_frame(conn: socket.socket, payload: bytes) -> None:
    conn.sendall(struct.pack(">I", len(payload)) + payload)


class FakePgServer:
    """Threaded loopback server recording a globally-ordered event log
    (``("exec", sql)`` and ``("copy_commit", table, n_rows)``) and the
    committed rows per table."""

    def __init__(self) -> None:
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(64)
        self.port: int = self._sock.getsockname()[1]
        self.lock = threading.Lock()
        self.events: list[tuple] = []
        self.tables: dict[str, list[tuple]] = {}
        self.schemas: dict[str, TableSpec] = {}
        self._stop = False
        self._accept_thread = threading.Thread(target=self._accept, daemon=True)

    def register_table(
        self,
        table: str,
        columns: list[tuple[str, str]],
        *,
        pk: tuple[str, ...] | None = None,
        pk_name: str = "pk",
        not_null: tuple[str, ...] = (),
    ) -> None:
        """Declare a typed table. ``table`` must be the quoted name the
        COPY statement carries (``quote_ident`` form, e.g.
        ``'"analytics"."loopback"'``)."""
        self.schemas[table] = TableSpec(columns, pk=pk, pk_name=pk_name, not_null=not_null)

    # -- server-side enforcement -------------------------------------

    def _apply_ddl(self, sql: str, tx_snapshot: dict[str, tuple] | None = None) -> None:
        """Recognize constraint DDL; everything else is recorded only.
        Re-adding a PK checks the existing rows for null key values,
        which fail the ADD as in Postgres; existing duplicate keys are
        not checked.

        ``tx_snapshot``: per-transaction rollback journal. The spec's
        pre-statement constraint state is recorded (first touch only)
        BEFORE any mutation, so an abort restores exactly the tables
        THIS transaction's DDL touched — never constraint state other
        connections committed while this transaction was open."""
        stmt = sql.strip().rstrip(";").strip()  # terminator is valid SQL
        m = re.match(
            r"ALTER\s+TABLE\s+(.+?)\s+DROP\s+CONSTRAINT\s+(?:\"(\w+)\"|(\w+))\s*$",
            stmt,
            re.IGNORECASE,
        )
        if m:
            table = m.group(1).strip()
            # PG folds UNQUOTED identifiers to lowercase; only quoted
            # names are case-sensitive.
            name = m.group(2) if m.group(2) is not None else m.group(3).lower()
            spec = self.schemas.get(table)
            if spec is None:
                return  # untyped table: constraint DDL is a no-op
            if spec.pk is not None and spec.pk_active and name == spec.pk_name:
                self._journal(tx_snapshot, table, spec)
                spec.pk_active = False
                return
            # Postgres errors on dropping a constraint that does not
            # exist (wrong name, or the PK was already dropped) — a
            # double that shrugs here turns a typo'd drop into a
            # misleading duplicate-key failure at COPY time instead.
            raise CopyError(
                f'constraint "{name}" of relation {table} does not exist'
            )
        m = re.match(
            r"ALTER\s+TABLE\s+(.+?)\s+ADD\s+CONSTRAINT\s+(?:\"(\w+)\"|(\w+))"
            # shared quote-aware key-column list (same fragment as the
            # COPY parse): a quoted identifier containing ')' must not
            # end the list; an EMPTY list is a PG syntax error and falls
            # through to the loud unsupported-DDL catch-all below.
            + rf"\s+PRIMARY\s+KEY\s*\({_IDENT_LIST}\)\s*$",
            stmt,
            re.IGNORECASE,
        )
        if m:
            table = m.group(1).strip()
            name = m.group(2) if m.group(2) is not None else m.group(3).lower()
            spec = self.schemas.get(table)
            if spec is None:
                return
            cols = tuple(split_ident_list(m.group(4)))
            unknown = [c for c in cols if c not in spec.types]
            if unknown:
                raise CopyError(
                    f'column "{unknown[0]}" named in key does not exist '
                    f"(relation {table})"
                )
            if spec.pk is not None and spec.pk_active:
                # Postgres: 42P16 — a second PK cannot silently replace the
                # first. Fires after column resolution, matching PG's order
                # (parse analysis resolves key columns before DefineIndex
                # runs the multiple-PK check).
                raise CopyError(
                    f"multiple primary keys for table {table} are not allowed"
                )
            order = list(spec.types)
            for row in self.tables.get(table, []):
                raw_key = tuple(row[order.index(c)] for c in cols)
                if any(v is None for v in raw_key):
                    null_col = cols[raw_key.index(None)]
                    raise CopyError(f'column "{null_col}" contains null values')
            self._journal(tx_snapshot, table, spec)
            spec.pk, spec.pk_name, spec.pk_active = cols, name, True
            spec.not_null |= set(cols)
            return
        # Constraint DDL aimed at a REGISTERED table that matches neither
        # shape must fail loudly: an enforcement double that silently
        # ignores DDL recreates the exact gap it exists to close.
        m = re.match(
            r"ALTER\s+TABLE\s+(.+?)\s+(?:DROP|ADD)\s+CONSTRAINT\b",
            stmt,
            re.IGNORECASE,
        )
        if m and m.group(1).strip() in self.schemas:
            raise CopyError(f"unsupported constraint DDL for typed table: {sql!r}")

    @staticmethod
    def _journal(
        tx_snapshot: dict[str, tuple] | None, table: str, spec: "TableSpec"
    ) -> None:
        """Record ``table``'s pre-mutation constraint state in this
        transaction's rollback journal — FIRST touch only, and only
        for tables this transaction's own DDL mutates. Postgres DDL is
        transactional (an aborted transaction rolls its ALTER TABLEs
        back), but a journal scoped wider than the transaction's own
        writes would revert DDL OTHER connections committed on
        DISJOINT tables in the meantime — constraint state real PG
        would never exhibit, in the other direction. Known remaining
        gap: two connections issuing DDL on the SAME table
        concurrently can still interleave restore-over-commit — real
        PG serializes that case with ACCESS EXCLUSIVE locks, which
        this double does not model. Column types never mutate, so
        only (pk, pk_name, pk_active, not_null) is captured."""
        if tx_snapshot is not None:
            tx_snapshot.setdefault(
                table, (spec.pk, spec.pk_name, spec.pk_active, set(spec.not_null))
            )

    def _restore_specs(self, snap: dict[str, tuple]) -> None:
        """Roll back the tables in a transaction's journal (abort /
        close-without-commit). Caller holds ``self.lock``."""
        for t, (pk, pk_name, pk_active, not_null) in snap.items():
            s = self.schemas.get(t)
            if s is not None:
                s.pk, s.pk_name, s.pk_active = pk, pk_name, pk_active
                s.not_null = set(not_null)

    @staticmethod
    def _pk_key(vals: tuple) -> tuple:
        """Unique-index key semantics: PG's numeric AND float btrees
        treat NaN as equal to NaN, while Python's NaN != itself (so a
        set would admit duplicate-NaN keys PG rejects). Normalize NaN
        to a sentinel before membership checks."""
        return tuple(
            "__pg_nan__"
            if (isinstance(v, Decimal) and v.is_nan())
            or (isinstance(v, float) and math.isnan(v))
            else v
            for v in vals
        )

    def _validated_rows(
        self, table: str, cols: list[str], raw_rows: list[list[str | None]], pk_seen: set
    ) -> list[tuple]:
        """Coerce + constraint-check one staged COPY against the
        declared schema. ``pk_seen`` accumulates keys across the whole
        transaction (committed rows are pre-seeded by the caller)."""
        spec = self.schemas[table]
        unknown = [c for c in cols if c not in spec.types]
        if unknown:
            raise CopyError(f'column "{unknown[0]}" of relation {table} does not exist')
        order = list(spec.types)
        out: list[tuple] = []
        for raw in raw_rows:
            if len(raw) < len(cols):
                raise CopyError(f'missing data for column "{cols[len(raw)]}"')
            if len(raw) > len(cols):
                raise CopyError("extra data after last expected column")
            by_name = dict(zip(cols, raw))
            vals: dict[str, object] = {
                c: coerce_pg_value(by_name.get(c), spec.types[c], c) for c in order
            }
            for c in spec.not_null:
                if vals[c] is None:
                    raise CopyError(
                        f'null value in column "{c}" of relation {table} '
                        "violates not-null constraint"
                    )
            if spec.pk is not None and spec.pk_active:
                raw_key = tuple(vals[c] for c in spec.pk)
                key = self._pk_key(raw_key)
                if key in pk_seen:
                    # message shows the real values, not the NaN sentinel
                    raise CopyError(
                        f'duplicate key value violates unique constraint "{spec.pk_name}": '
                        f"key {spec.pk}={raw_key} already exists"
                    )
                pk_seen.add(key)
            out.append(tuple(vals[c] for c in order))
        return out

    def __enter__(self) -> "FakePgServer":
        self._accept_thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop = True
        try:
            self._sock.close()
        except OSError:
            pass

    def _accept(self) -> None:
        while not self._stop:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _serve(self, conn: socket.socket) -> None:
        staged: list[tuple[str, str]] = []
        # Rollback journal: pre-state of each table THIS transaction's
        # DDL touched (first touch wins). DDL applies to self.schemas
        # immediately so later statements in the SAME transaction see
        # it (PG visibility), but like staged COPYs it only survives a
        # successful commit: abort and close-without-commit restore the
        # journaled tables — and only those, so committed DDL from
        # other connections is never reverted.
        tx_snapshot: dict[str, tuple] = {}
        # Aborted-transaction latch (real PG semantics): after any
        # error inside a transaction block, every subsequent statement
        # fails with "current transaction is aborted" until the client
        # ends the block — ROLLBACK clears it, and a COMMIT issued
        # while aborted silently becomes a rollback (PG returns
        # ROLLBACK as the command tag, psycopg2 raises nothing). The
        # pre-round-8 double was more permissive here (error-then-
        # continue implicitly opened a fresh transaction).
        aborted = False
        try:
            while True:
                frame = _recv_frame(conn)
                if frame is None:
                    # closed without commit: staged COPYs discarded and
                    # uncommitted DDL rolled back (PG transactional DDL)
                    with self.lock:
                        self._restore_specs(tx_snapshot)
                    return
                msg = json.loads(frame.decode("utf-8"))
                op = msg["op"]
                if op == "rollback":
                    # always succeeds; ends the transaction block
                    staged = []
                    with self.lock:
                        self._restore_specs(tx_snapshot)
                        tx_snapshot = {}
                        self.events.append(("rollback",))
                    aborted = False
                    _send_frame(conn, b'{"status": "ok"}')
                    continue
                if aborted:
                    if op == "commit":
                        # COMMIT in an aborted block = ROLLBACK: the
                        # abort already discarded staged COPYs and
                        # restored journaled DDL; just end the block.
                        aborted = False
                        with self.lock:
                            self.events.append(("commit_became_rollback",))
                        _send_frame(conn, b'{"status": "ok"}')
                    else:
                        # statement ignored, NOT executed — and not
                        # logged as executed/rejected either
                        with self.lock:
                            self.events.append(("ignored_aborted", op))
                        _send_frame(
                            conn,
                            json.dumps(
                                {
                                    "status": "error",
                                    "message": "current transaction is aborted, "
                                    "commands ignored until end of "
                                    "transaction block",
                                }
                            ).encode("utf-8"),
                        )
                    continue
                try:
                    if op == "exec":
                        with self.lock:
                            try:
                                self._apply_ddl(msg["sql"], tx_snapshot)
                            except CopyError:
                                # DDL the server rejected must not look
                                # executed in the event log — a distinct
                                # kind keeps order assertions honest.
                                self.events.append(("exec_rejected", msg["sql"]))
                                raise
                            self.events.append(("exec", msg["sql"]))
                    elif op == "copy":
                        staged.append((msg["sql"], msg["data"]))
                    elif op == "commit":
                        with self.lock:
                            # Validate the whole transaction before any
                            # table mutates: an error aborts it atomically
                            # (psycopg2 semantics — nothing staged lands).
                            applied: list[tuple[str, list[tuple]]] = []
                            pk_seen: dict[str, set] = {}
                            for sql, data in staged:
                                # Require an explicit column list: without
                                # one, splitting on " (" would latch onto
                                # "(FORMAT csv, ...)" and mangle the table
                                # key — typed enforcement silently bypassed
                                # while the real table stays empty. Valid PG
                                # syntax, but the double rejects it loudly.
                                # The list pattern is quote-aware so a
                                # quoted identifier containing ')' cannot
                                # end the list early (or fake its absence).
                                cm = re.match(
                                    r"COPY\s+(.+?)\s*"
                                    + rf"\({_IDENT_LIST}\)"
                                    + r"\s+FROM\s+STDIN",
                                    sql,
                                    re.IGNORECASE | re.DOTALL,
                                )
                                if cm is None:
                                    raise CopyError(
                                        "COPY without an explicit column list "
                                        f"is not supported by the loopback double: {sql!r}"
                                    )
                                table = cm.group(1).strip()
                                cols = split_ident_list(cm.group(2))
                                raw_rows = parse_copy_csv(data)
                                if table in self.schemas:
                                    spec = self.schemas[table]
                                    if table not in pk_seen:
                                        order = list(spec.types)
                                        pk_seen[table] = (
                                            {
                                                self._pk_key(
                                                    tuple(
                                                        r[order.index(c)]
                                                        for c in spec.pk
                                                    )
                                                )
                                                for r in self.tables.get(table, [])
                                            }
                                            if spec.pk is not None and spec.pk_active
                                            else set()
                                        )
                                    rows = self._validated_rows(
                                        table, cols, raw_rows, pk_seen[table]
                                    )
                                else:
                                    rows = [tuple(r) for r in raw_rows]
                                applied.append((table, rows))
                            for table, rows in applied:
                                self.tables.setdefault(table, []).extend(rows)
                                self.events.append(("copy_commit", table, len(rows)))
                        staged = []
                        tx_snapshot = {}  # DDL durable only now
                    else:  # pragma: no cover — unknown op is a test bug
                        raise ValueError(f"unknown op {op!r}")
                except CopyError as e:
                    # transaction aborted: staged COPYs die AND this
                    # transaction's DDL rolls back, as in real Postgres.
                    # A MID-transaction statement error (exec) latches
                    # the aborted state until the client ends the block;
                    # an error surfacing at COMMIT does not — in PG a
                    # failed COMMIT ends the block (rolled back) and the
                    # next statement starts a fresh transaction. (The
                    # double validates staged COPY data at commit, so
                    # bad-row errors land in the commit case.)
                    staged = []
                    aborted = op != "commit"
                    with self.lock:
                        self._restore_specs(tx_snapshot)
                        tx_snapshot = {}
                    _send_frame(
                        conn,
                        json.dumps({"status": "error", "message": str(e)}).encode("utf-8"),
                    )
                    continue
                _send_frame(conn, b'{"status": "ok"}')
        finally:
            conn.close()


def make_loopback_connect(port: int):
    """psycopg2-shaped ``connect(dsn)`` for the loopback server.

    Everything the executor needs is defined inside this closure so
    cloudpickle serializes it by value — Spark Python workers never
    import the tests package.
    """

    def connect(dsn: str):  # noqa: ARG001 — dsn shape is the caller's concern
        import json as _json
        import socket as _socket
        import struct as _struct

        sock = _socket.create_connection(("127.0.0.1", port), timeout=30)

        def rpc(msg: dict) -> None:
            payload = _json.dumps(msg).encode("utf-8")
            sock.sendall(_struct.pack(">I", len(payload)) + payload)
            header = b""
            while len(header) < 4:
                chunk = sock.recv(4 - len(header))
                if not chunk:
                    raise ConnectionError("server closed mid-response")
                header += chunk
            (length,) = _struct.unpack(">I", header)
            body = b""
            while len(body) < length:
                chunk = sock.recv(min(65536, length - len(body)))
                if not chunk:
                    raise ConnectionError("server closed mid-response")
                body += chunk
            resp = _json.loads(body.decode("utf-8"))
            if resp.get("status") != "ok":
                raise RuntimeError(
                    resp.get("message", "loopback server rejected message")
                )

        class Cursor:
            def __enter__(self):
                return self

            def __exit__(self, *exc):
                return False

            def execute(self, sql: str) -> None:
                rpc({"op": "exec", "sql": sql})

            def copy_expert(self, sql: str, fileobj) -> None:
                rpc({"op": "copy", "sql": sql, "data": fileobj.read()})

        class Conn:
            def cursor(self):
                return Cursor()

            def commit(self) -> None:
                rpc({"op": "commit"})

            def rollback(self) -> None:
                rpc({"op": "rollback"})

            def close(self) -> None:
                sock.close()

        return Conn()

    return connect
