"""Property-based pins for the CROSS-ENGINE contracts the oracle gate
rests on: the sequential-fold dot product (every ANN/k-means oracle)
and the 60-bit md5 hash (checksums, portable MinHash, bloom/HLL/KMV
sketches) must be BIT-IDENTICAL between Spark, DuckDB, and the plain
Python left-fold — on generated inputs, not just the committed tables.

One Spark job per hypothesis example is too slow, so each example is a
batch of rows; DuckDB evaluates the identical SQL text the oracles use.
"""

from __future__ import annotations

import struct

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(max_examples=6, deadline=None)


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


vec = st.lists(
    st.floats(min_value=-8.0, max_value=8.0, allow_nan=False, width=32),
    min_size=1,
    max_size=16,
)


@given(st.lists(st.tuples(vec, vec), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_dot_fold_bit_identical_spark_duckdb_python(spark, pairs):
    """similarity.dot ≡ _duck_dot ≡ Python left-fold, bit-for-bit.

    Every ANN/semdedup/k-means oracle assumes this three-way identity;
    a drift of one ulp breaks argmin tie-ordering and the value hash."""
    from train_reports_etl_spark.extensions.ext_queries import _dlit, _duck_dot
    from train_reports_etl_spark.extensions.similarity import dot

    # pad BOTH sides of every pair to one common length so one
    # DataFrame holds the batch (mismatched lengths would make Spark's
    # zip_with emit NULL for the shorter side; equal-length 0.0 padding
    # adds exact +0.0 fold terms on every engine)
    n = max(max(len(a), len(b)) for a, b in pairs)
    rows = [(a + [0.0] * (n - len(a)), b + [0.0] * (n - len(b))) for a, b in pairs]

    df = spark.createDataFrame(rows, "a array<float>, b array<float>")
    got_spark = [r.d for r in df.select(dot(F.col("a"), F.col("b")).alias("d")).collect()]

    con = duckdb.connect()
    got_duck, got_py = [], []
    for a, b in rows:
        af = [struct.unpack("<f", struct.pack("<f", x))[0] for x in a]
        bf = [struct.unpack("<f", struct.pack("<f", x))[0] for x in b]
        # _dlit, not a bare numeric literal: DuckDB types bare decimals
        # as DECIMAL and double-rounds 17-digit reprs — the exact trap
        # this test originally caught in _duck_dot's rendering
        lit = "[" + ", ".join(_dlit(x) for x in af) + "]"
        got_duck.append(con.sql(f"SELECT {_duck_dot(lit, bf)} AS d").fetchone()[0])
        s = 0.0
        for x, y in zip(af, bf):
            s += x * y
        got_py.append(s)
    for gs, gd, gp in zip(got_spark, got_duck, got_py):
        assert _bits(gs) == _bits(gd) == _bits(gp), (gs, gd, gp)


printable = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="'\\"),
    max_size=30,
)


@given(st.lists(printable, min_size=1, max_size=40))
@settings(**SETTINGS)
def test_hash60_three_way_bit_identical(spark, xs):
    """hash60 (Spark conv fast path) ≡ hash60_sql on Spark ≡ hash60_sql
    on DuckDB, for arbitrary strings. The conv path feeds checksums and
    sketches; the instr chain is what every oracle executes."""
    from train_reports_etl_spark.extensions.sketches import hash60, hash60_sql

    df = spark.createDataFrame([(x,) for x in xs], ["s"])
    out = df.select(
        hash60("s").alias("fast"),
        F.expr(hash60_sql("s")).alias("chain"),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    duck = [r[0] for r in con.execute(f"SELECT {hash60_sql('s')} FROM t").fetchall()]

    for r, d, x in zip(out, duck, xs):
        assert r.fast == r.chain == d, (x, r.fast, r.chain, d)
        assert 0 <= r.fast < (1 << 60)


gen_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="'\\\x00"),
    max_size=40,
)


@given(st.lists(gen_text, min_size=1, max_size=30))
@settings(**SETTINGS)
def test_tokenization_identical_spark_duckdb(spark, xs):
    """text.tokens (Java regex) ≡ the oracle _SQL_TOKENS (DuckDB RE2)
    on arbitrary unicode — every text-analysis oracle (ngrams, tf-idf,
    collocations, winnow) assumes the token streams are identical,
    including lower()'s unicode behavior (K→k, İ, ß, …)."""
    from train_reports_etl_spark.extensions.ext_queries import _SQL_TOKENS
    from train_reports_etl_spark.extensions.text import tokens

    df = spark.createDataFrame([(x,) for x in xs], ["text"])
    got_spark = [r.t for r in df.select(tokens("text").alias("t")).collect()]

    con = duckdb.connect()
    con.execute("CREATE TABLE t(text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    got_duck = [r[0] for r in con.execute(f"SELECT {_SQL_TOKENS} FROM t").fetchall()]
    for x, s, d in zip(xs, got_spark, got_duck):
        assert s == d, (repr(x), s, d)


@given(st.lists(st.tuples(gen_text, gen_text), min_size=1, max_size=25))
@settings(**SETTINGS)
def test_levenshtein_identical_spark_duckdb(spark, pairs):
    """Spark levenshtein (codepoints) ≡ the oracle's _duck_lev_cp on
    arbitrary unicode. DuckDB's NATIVE levenshtein counts BYTES and
    diverges on any non-ASCII (this test caught it); the oracle now
    routes through a codepoint→single-byte alphabet remap."""
    from train_reports_etl_spark.extensions.ext_queries import _duck_lev_cp

    df = spark.createDataFrame(pairs, "a string, b string")
    got_spark = [r.d for r in df.select(F.levenshtein("a", "b").alias("d")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a VARCHAR, b VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    got_duck = [
        r[0] for r in con.execute(f"SELECT {_duck_lev_cp('a', 'b')} FROM t").fetchall()
    ]
    for (a, b), s, d in zip(pairs, got_spark, got_duck):
        assert s == d, (repr(a), repr(b), s, d)


def test_levenshtein_large_alphabet_yields_null():
    """>127 distinct joint codepoints: the remap runs out of single-byte
    chars, and the helper must yield NULL — a LOUD hash failure for any
    caller that omits the alphabet-bound predicate — never fall back to
    DuckDB's byte distance, which silently diverges from Spark on
    non-ASCII text (ADVICE r05)."""
    from train_reports_etl_spark.extensions.ext_queries import _duck_lev_cp

    a = "".join(chr(0x4E00 + i) for i in range(100))  # 100 distinct CJK
    b = "".join(chr(0x5E00 + i) for i in range(100))  # 100 more
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a VARCHAR, b VARCHAR)")
    con.execute("INSERT INTO t VALUES (?, ?)", [a, b])
    got = con.execute(f"SELECT {_duck_lev_cp('a', 'b')} FROM t").fetchone()[0]
    assert got is None
    # and the guarded form (≤127 joint codepoints) still answers
    con.execute("UPDATE t SET b = a")
    small = con.execute(
        f"SELECT {_duck_lev_cp('a', 'b')} FROM t"
    ).fetchone()[0]
    assert small == 0


@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        min_size=1,
        max_size=60,
    )
)
@settings(**SETTINGS)
def test_percentile_matches_quantile_cont_bitwise(spark, xs):
    """Spark percentile ≡ DuckDB quantile_cont, bit-for-bit — the a9
    oracle's premise, re-proven on generated values (interpolation
    arithmetic could legally differ between engines; it must not)."""
    df = spark.createDataFrame([(x,) for x in xs], "v double")
    row = df.agg(
        F.percentile("v", 0.25).alias("p25"),
        F.percentile("v", 0.5).alias("p50"),
        F.percentile("v", 0.95).alias("p95"),
    ).head()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    duck = con.execute(
        "SELECT quantile_cont(v, 0.25), quantile_cont(v, 0.5), quantile_cont(v, 0.95) FROM t"
    ).fetchone()
    for s, d in zip((row.p25, row.p50, row.p95), duck):
        # + 0.0 unifies zero signs: the ONE divergence (found by this
        # test) is ±0.0 — Spark sorts -0.0 < +0.0 (Java total order)
        # while SQL compares them equal, so a quantile landing on a
        # zero can differ in sign bit only. The a9 oracle is immune
        # (prices are positive); 600 random non-zero-straddling trials
        # showed zero other mismatches.
        assert _bits(s + 0.0) == _bits(d + 0.0), (xs, s, d)


@given(st.lists(gen_text, min_size=2, max_size=40))
@settings(**SETTINGS)
def test_string_sort_order_identical(spark, xs):
    """ORDER BY on strings: Spark must equal Python's UTF-8 byte order
    on ARBITRARY unicode, and DuckDB must equal it wherever DuckDB's
    comparator is sound.

    This test CAUGHT a DuckDB 1.0.0 bug: strings whose first 8 bytes
    are non-ASCII-heavy (e.g. 'éééé', '𐀀𐀀') sort BEFORE shorter/ASCII
    strings — a signed-byte comparison in the inlined string prefix —
    so '' > '\\x80\\x80𐀀' under its ORDER BY. Consequence for oracle
    design: never tie-break on raw non-ASCII text columns in oracle
    SQL; order by ids/digests (which every committed oracle already
    does — this pins the rule)."""
    df = spark.createDataFrame([(x,) for x in xs], ["s"])
    got_spark = [r.s for r in df.orderBy("s").collect()]
    want = sorted(xs, key=lambda s: s.encode("utf-8"))
    assert got_spark == want  # Spark ≡ unsigned UTF-8 byte order, always

    # DuckDB: assert only on inputs outside the known-buggy class
    # (any string with a non-ASCII byte in its first 8 bytes).
    if all(all(b < 0x80 for b in x.encode("utf-8")[:8]) for x in xs):
        con = duckdb.connect()
        con.execute("CREATE TABLE t(s VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
        got_duck = [r[0] for r in con.execute("SELECT s FROM t ORDER BY s").fetchall()]
        assert got_duck == want


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=1,
        max_size=50,
    )
)
@settings(**SETTINGS)
def test_int_div_mod_identical(spark, pairs):
    """`a % m` and `a div/// m` must agree across engines, including
    NEGATIVE dividends — hash-bucket routing (% on hash60), ppm
    arithmetic (//), and nanos→micros truncation (div) rely on it."""
    df = spark.createDataFrame(pairs, "a long, m long")
    got = df.selectExpr("a % m AS r", "a div m AS q").collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, m BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    duck = con.execute("SELECT a % m, a // m FROM t").fetchall()
    for (a, m), g, (dr, dq) in zip(pairs, got, duck):
        assert g.r == dr, (a, m, g.r, dr)
        assert g.q == dq, (a, m, g.q, dq)


@given(
    st.lists(
        st.datetimes(
            min_value=__import__("datetime").datetime(1970, 1, 2),
            max_value=__import__("datetime").datetime(2099, 12, 30),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_datetime_format_and_week_identical(spark, ts):
    """STRFTIME/date_format renderings and ISO week/day-abbrev agree
    across engines for arbitrary timestamps — the f3_f7 contract,
    including the locale-independent day_abbrev lookup."""
    from train_reports_etl_spark.functions.datetime_fns import day_abbrev, iso_week

    xs = [t.replace(microsecond=0) for t in ts]
    df = spark.createDataFrame([(t,) for t in xs], "ts timestamp")
    got = df.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("s"),
        day_abbrev("ts").alias("dow"),
        iso_week("ts").cast("int").alias("wk"),
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(ts TIMESTAMP)")
    con.executemany("INSERT INTO t VALUES (?)", [(t,) for t in xs])
    duck = con.execute(
        "SELECT STRFTIME(ts, '%Y-%m-%d %H:%M:%S'), STRFTIME(ts, '%a'),"
        " CAST(WEEKOFYEAR(ts) AS INT) FROM t"
    ).fetchall()
    for g, (ds, ddow, dwk) in zip(got, duck):
        assert g.s == ds, (g.s, ds)
        assert g.dow == ddow, (g.s, g.dow, ddow)
        assert g.wk == dwk, (g.s, g.wk, dwk)


@given(st.lists(st.tuples(gen_text, st.integers(1, 10), st.integers(0, 12)), min_size=1, max_size=30))
@settings(**SETTINGS)
def test_string_scalars_identical(spark, rows):
    """LENGTH / SUBSTRING / REPLACE / starts_with / translate on
    arbitrary unicode — the f6/f8/f9 scalar contract. DuckDB indexes
    substring by CODEPOINT like Spark (only levenshtein is byte-based).

    UPPER/LOWER are asserted on ASCII ONLY: this test caught that the
    engines' full-Unicode case maps legitimately diverge (Spark
    upper('ß')='SS', 'ﬀ'='FF'; DuckDB 'ẞ'/'ﬀ'. Spark lower('İ')=
    'i'+combining-dot; DuckDB 'i') — hence the oracle rule: never emit
    raw case-folded unicode text; case-flip fixtures use the ASCII
    `translate` (codepoint-1:1, identical engines), and lower() only
    feeds the [a-z0-9] token regex, which strips every divergent
    mapping (pinned by test_tokenization_identical_spark_duckdb)."""
    df = spark.createDataFrame(rows, "s string, pos int, ln int")
    got = df.selectExpr(
        "length(s) AS l",
        "substring(s, pos, ln) AS sub",
        "replace(s, 'a', 'XY') AS rep",
        "startswith(s, 'a') AS sw",
        "translate(s, 'abcdefghijklmnopqrstuvwxyz',"
        " 'ABCDEFGHIJKLMNOPQRSTUVWXYZ') AS tr",
        "upper(s) AS up",
        "lower(s) AS lo",
    ).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(s VARCHAR, pos INT, ln INT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck = con.execute(
        "SELECT LENGTH(s), SUBSTRING(s, pos, ln), REPLACE(s, 'a', 'XY'),"
        " starts_with(s, 'a'),"
        " translate(s, 'abcdefghijklmnopqrstuvwxyz',"
        " 'ABCDEFGHIJKLMNOPQRSTUVWXYZ'),"
        " UPPER(s), LOWER(s) FROM t"
    ).fetchall()
    for (s, pos, ln), g, d in zip(rows, got, duck):
        assert g.l == d[0], (repr(s), g.l, d[0])
        assert g.sub == d[1], (repr(s), pos, ln, repr(g.sub), repr(d[1]))
        assert g.rep == d[2], (repr(s), g.rep, d[2])
        assert g.sw == d[3], (repr(s), g.sw, d[3])
        assert g.tr == d[4], (repr(s), repr(g.tr), repr(d[4]))
        if s.isascii():
            assert g.up == d[5], (repr(s), repr(g.up), repr(d[5]))
            assert g.lo == d[6], (repr(s), repr(g.lo), repr(d[6]))


@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(-(10**9), 10**9)),
            st.one_of(st.none(), st.sampled_from(["A", "B", "", "x|y", "<NULL>"])),
            # cent-exact doubles: CAST(ROUND(x*100)) is the repo's money
            # canonicalization and its contract is 2-dp data (prices);
            # arbitrary doubles would probe the documented ROUND
            # half-way residual instead of this pipeline
            st.one_of(
                st.none(),
                st.integers(-(10**6), 10**6).map(lambda c: c / 100.0),
            ),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_checksum_row_pipeline_identical(spark, rows):
    """The dq_table_checksums row pipeline end-to-end on generated rows
    WITH NULLs: COALESCE-sentinel serialization → '|' join → hash60 →
    BIT_XOR must produce the identical checksum on both engines (and
    NULL fields must change the hash — the sentinel keeps the row
    visible instead of nullifying the whole concat)."""
    from train_reports_etl_spark.extensions.ext_queries import _checksum_row_expr
    from train_reports_etl_spark.extensions.sketches import hash60, hash60_sql

    fields = [
        "CAST(k AS {S})",
        "s",
        "CAST(CAST(ROUND(v * 100) AS BIGINT) AS {S})",
    ]
    df = spark.createDataFrame(rows, "k long, s string, v double")
    spark_sum = df.agg(
        F.coalesce(F.bit_xor(hash60(_checksum_row_expr(fields, "STRING"))), F.lit(0))
    ).head()[0]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k BIGINT, s VARCHAR, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    duck_sum = con.execute(
        f"SELECT COALESCE(BIT_XOR({hash60_sql(_checksum_row_expr(fields, 'VARCHAR'))}), 0) FROM t"
    ).fetchone()[0]
    assert spark_sum == duck_sum


# ---- round-6 contracts: cents quantization and the 64-bit pair stage


@given(
    st.lists(
        st.integers(min_value=0, max_value=100_000_000),  # 0.00 .. 1e6 in cents
        min_size=1,
        max_size=200,
    )
)
@settings(**SETTINGS)
def test_cents_quantization_exact_spark_duckdb_python(spark, cents):
    """The round-6 oracle policy rests on this: for any 2-dp value v
    (stored as the double nearest n/100), ROUND(v*100) recovers n
    EXACTLY on Spark, DuckDB, and Python — no half-cent ambiguity,
    because v*100 is within an ulp of the integer n, never near .5.
    Every migrated sum (a4/a7/o4/a11/a12/a13/a16, j6-j9, e5 windows,
    w4) assumes it."""
    vals = [n / 100 for n in cents]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got_spark = [
        r.c for r in df.select(F.round(F.col("v") * 100).cast("long").alias("c")).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    got_duck = [r[0] for r in con.execute(
        "SELECT CAST(ROUND(v * 100) AS BIGINT) FROM t").fetchall()]
    assert got_spark == cents
    assert got_duck == cents


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 60) - 1),
            st.integers(min_value=0, max_value=(1 << 60) - 1),
        ),
        min_size=1,
        max_size=100,
    )
)
@settings(**SETTINGS)
def test_chunk_shift_and_popcount_identical_spark_duckdb(spark, pairs):
    """The e6_hamming_pair_join contract: for non-negative <2^60
    hashes, Spark shiftrightunsigned/bitwiseAND/bit_count(xor) ≡
    DuckDB's arithmetic >>, &, bit_count(xor(..)) — chunk values and
    Hamming distances must agree on every engine for the pigeonhole
    join to be oracle-checkable."""
    df = spark.createDataFrame(pairs, "a long, b long")
    sel = [
        F.shiftrightunsigned("a", 8 * k).bitwiseAND(F.lit(0xFF)).alias(f"c{k}")
        for k in range(8)
    ] + [F.bit_count(F.col("a").bitwiseXOR(F.col("b"))).cast("int").alias("h")]
    got_spark = [tuple(r) for r in df.select(*sel).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", pairs)
    cols = ", ".join(f"(a >> {8 * k}) & 255" for k in range(8))
    got_duck = [
        tuple(r)
        for r in con.execute(
            f"SELECT {cols}, CAST(bit_count(xor(a, b)) AS INT) FROM t"
        ).fetchall()
    ]
    assert got_spark == got_duck


def _assert_pair_pipeline_identical(spark, rows):
    """ONE engine-compare for the pair-pipeline twins, shared by the
    fixture and generated pins: run simhash60 + hamming_pairs_64 vs
    _hamming_pair_sql on identical (max_hamming, scheme) args for BOTH
    bucket schemes — a default drift on either twin would otherwise
    compare two different relations. Returns {scheme: spark_pair_set}
    for extra fixture-specific assertions."""
    import duckdb as _duck

    from train_reports_etl_spark.extensions.ext_queries import _hamming_pair_sql
    from train_reports_etl_spark.extensions.multimodal import hamming_pairs_64
    from train_reports_etl_spark.extensions.text import simhash60_table

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = simhash60_table(docs)
    con = _duck.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    out = {}
    for max_h, scheme in [(7, "single"), (6, "paired")]:
        got_spark = {
            (r.id_a, r.id_b, r.hamming)
            for r in hamming_pairs_64(
                sh,
                id_col="doc_id",
                hash_col="simhash60",
                max_hamming=max_h,
                scheme=scheme,
            ).collect()
        }
        got_duck = set(
            map(tuple, con.execute(_hamming_pair_sql(max_h, scheme)).fetchall())
        )
        assert got_spark == got_duck, (max_h, scheme, rows)
        out[scheme] = got_spark
    return out


def test_simhash_zero_token_docs_kept_on_both_engines(spark):
    """Punctuation-only / empty docs: Spark's explode_outer keeps them
    (fingerprint 0); the oracle's UNNEST would drop them — the LEFT
    JOIN in _simhash_body_sql restores parity. Two zero-token docs
    must form a Hamming-0 pair on BOTH engines."""
    from train_reports_etl_spark.extensions.text import simhash60_table

    rows = [(1, "real words here"), (2, "!!! ... ???"), (3, "")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r.doc_id: r.simhash60 for r in simhash60_table(docs).collect()}
    assert set(sh) == {1, 2, 3} and sh[2] == 0 and sh[3] == 0

    pairs = _assert_pair_pipeline_identical(spark, rows)
    for scheme in ("single", "paired"):
        assert (2, 3, 0) in pairs[scheme]


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), gen_text),
        min_size=2,
        max_size=10,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_simhash_pair_pipeline_identical_generated(spark, rows):
    """END-TO-END generated pin for the pair-pipeline twins: simhash60 +
    hamming_pairs_64 vs _hamming_pair_sql on arbitrary unicode docs,
    BOTH bucket schemes. The components are pinned individually above
    (hash60, tokenization, chunk shift/popcount); this pins their
    COMPOSITION — the exact relation the e6_hamming_pair_join gate row
    hashes — so a drift in any glue (explode_outer vs UNNEST, sign
    handling, dedup) surfaces on generated data, not just the fixture."""
    _assert_pair_pipeline_identical(spark, rows)


@given(
    st.lists(
        st.tuples(st.integers(0, 10**6), gen_text),
        min_size=2,
        max_size=10,
        unique_by=lambda t: t[0],
    )
)
@settings(**SETTINGS)
def test_simhash16_path_identical_generated(spark, rows):
    """The 16-bit SimHash is derived as ``simhash60 >> 44`` on Spark
    and hashed on its own (4 md5 nibbles per token) by the DuckDB
    oracle: both ``simhash_table`` vs ``_simhash_sql`` and the Hamming
    <= 3 pair query vs the ``e2_simhash_near_dup`` oracle must agree on
    generated docs plus fixed edge rows — zero-token docs (fingerprint
    0 on both sides, a Hamming-0 pair) and duplicate texts."""
    from train_reports_etl_spark.extensions.dedup import simhash_near_duplicates
    from train_reports_etl_spark.extensions.ext_queries import _simhash_sql
    from train_reports_etl_spark.extensions.text import simhash_table
    from train_reports_etl_spark.plans.registry import ORACLES

    base = 2 * 10**6
    rows = rows + [
        (base + 1, "real words here"),
        (base + 2, "real words here"),
        (base + 3, ""),
        (base + 4, "!!! ... ???"),
        (base + 5, rows[0][1]),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    sh_spark = {(r.doc_id, r.simhash) for r in simhash_table(docs).collect()}
    sh_duck = set(map(tuple, con.execute(_simhash_sql()).fetchall()))
    assert sh_spark == sh_duck, rows
    assert (base + 3, 0) in sh_spark and (base + 4, 0) in sh_spark

    pairs_spark = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    pairs_duck = set(
        map(tuple, con.execute(ORACLES["e2_simhash_near_dup"]).fetchall())
    )
    assert pairs_spark == pairs_duck, rows
    dup_pairs = {(base + 1, base + 2, 0), (base + 3, base + 4, 0), (rows[0][0], base + 5, 0)}
    assert dup_pairs <= pairs_spark


@given(
    st.lists(
        st.text(alphabet="theranoseri ", min_size=0, max_size=24),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_bpe_round0_collapse_identical_spark_duckdb_python(spark, xs):
    """The e4_bpe_downstream_join piece function — collapse each
    rank-0..9 digram to one char, leftmost pass — must agree between
    Spark regexp_replace (Java), DuckDB regexp_replace(..., 'g')
    (RE2), and a plain Python left-to-right scan, on adversarial
    overlapping chains ('ththth', 'erer', 'inin', …) the committed
    testdata's natural words may never hit. The alphabet is chosen so
    digrams overlap and chain aggressively."""
    from train_reports_etl_spark.extensions.text import bpe_round0_digrams

    digrams = bpe_round0_digrams()
    pat = "|".join(digrams)
    dset = set(digrams)

    def py_collapse(s: str) -> int:
        # leftmost non-overlapping scan, no rescan of replacements
        out, i = 0, 0
        while i < len(s):
            if s[i : i + 2] in dset:
                i += 2
            else:
                i += 1
            out += 1
        return out

    df = spark.createDataFrame([(x,) for x in xs], ["tok"])
    got_spark = [
        r.n
        for r in df.select(
            F.length(F.regexp_replace("tok", pat, "x")).cast("int").alias("n")
        ).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(tok VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?)", [(x,) for x in xs])
    got_duck = [
        r[0]
        for r in con.execute(
            f"SELECT CAST(length(regexp_replace(tok, '{pat}', 'x', 'g')) AS INT) FROM t"
        ).fetchall()
    ]
    for x, s, d in zip(xs, got_spark, got_duck):
        assert s == d == py_collapse(x), (repr(x), s, d, py_collapse(x))
