"""Sniffer, quarantine, idempotent partitioned writer, audit, version gate."""

from __future__ import annotations

import datetime as dt
import glob
import random

import pytest
from pyspark.sql import functions as F

from train_reports_etl_spark.operators.islands import consecutive_date_ranges
from train_reports_etl_spark.plans.schemas import OCCUPANCY_HEADER, TRAIN_LIST_HEADER
from train_reports_etl_spark.sinks.audit import (
    append_audit,
    check_version_gate,
    read_audit,
    record_version,
)
from train_reports_etl_spark.sinks.partitioned import idempotent_overwrite, load_report
from train_reports_etl_spark.sinks.quarantine import write_quarantine
from train_reports_etl_spark.sources.sniffer import sniff_rows


def test_sniffer_exact_match_and_offset():
    rows = [
        ["Some Title", None],
        [None, None],
        list(TRAIN_LIST_HEADER) + [None, None],  # nulls dropped before compare
    ]
    res = sniff_rows(rows)
    assert res is not None
    assert res.report_type == "train_list" and res.header_row == 2


def test_sniffer_rejects_near_miss():
    wrong = list(TRAIN_LIST_HEADER)
    wrong[0] = "departure date"  # case matters: exact match only
    assert sniff_rows([wrong]) is None
    extra = list(OCCUPANCY_HEADER) + ["Surprise"]
    assert sniff_rows([extra]) is None


def test_sniffer_probe_depth_limit():
    rows = [[None]] * 50 + [list(TRAIN_LIST_HEADER)]  # row 51: out of probe
    assert sniff_rows(rows) is None


def test_sniffer_blank_string_cell_blocks_match():
    # pandas dropna() keeps empty strings: a blank-string header cell
    # makes the row differ from the expected layout (None/NaN still drop)
    with_blank = list(TRAIN_LIST_HEADER)
    with_blank.insert(1, "")
    assert sniff_rows([with_blank]) is None
    with_none = list(TRAIN_LIST_HEADER)
    with_none.insert(1, None)
    assert sniff_rows([with_none]) is not None


def test_quarantine_writes_compressed_csv(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "v"])
    out = write_quarantine(df, str(tmp_path), "train_list", "errors", timestamp="t1")
    files = glob.glob(f"{out}/*.csv.gz")
    assert files, "expected gzip csv part files"
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 2


def test_idempotent_overwrite_replaces_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "tbl")
    day1 = spark.createDataFrame([("2024-01-01", 1), ("2024-01-02", 2)], ["d", "v"])
    idempotent_overwrite(day1, path, ["d"])
    # re-run same load -> identical state
    idempotent_overwrite(day1, path, ["d"])
    assert spark.read.parquet(path).count() == 2
    # new load touching only day2 with new value; day1 untouched
    day2 = spark.createDataFrame([("2024-01-02", 99)], ["d", "v"])
    idempotent_overwrite(day2, path, ["d"])
    # NB: partition values read back type-inferred (string 'd' -> date)
    out = {(str(r.d), r.v) for r in spark.read.parquet(path).collect()}
    assert out == {("2024-01-01", 1), ("2024-01-02", 99)}


def test_load_report_returns_ranges_and_writes(spark, tmp_path):
    path = str(tmp_path / "tbl2")
    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-01-02",), ("2024-01-05",)], ["d"]
    ).withColumn("d", F.to_timestamp("d")).withColumn("v", F.lit(1)).withColumn(
        "day", F.date_format("d", "yyyy-MM-dd")
    )
    ranges = load_report(df, path, "d", partition_cols=["day"])
    assert ranges == [("2024-01-01", "2024-01-02"), ("2024-01-05", "2024-01-05")]
    assert spark.read.parquet(path).count() == 3


@pytest.mark.parametrize("kind", ["constant", "scanned"])
def test_load_report_empty_frame_returns_no_ranges(spark, tmp_path, kind):
    if kind == "constant":
        df = spark.createDataFrame([], "d date, v int")
    else:
        df = spark.range(10).filter("id > 100").selectExpr(
            "date_add(DATE'2024-01-01', CAST(id AS INT)) AS d", "CAST(id AS INT) AS v"
        )
    assert load_report(df, str(tmp_path / "t"), "d") == []


def test_load_report_writes_one_file_per_date(spark, tmp_path):
    # 3 dates in each of 8 input partitions: one file per date, not 8 x 3
    path = str(tmp_path / "t")
    df = spark.range(0, 240, 1, 8).selectExpr(
        "date_add(DATE'2024-01-01', CAST(id % 3 AS INT)) AS d", "id"
    )
    assert df.rdd.getNumPartitions() == 8
    load_report(df, path, "d")
    assert len(glob.glob(f"{path}/d=*/*.parquet")) == 3
    assert spark.read.parquet(path).count() == 240


def test_load_report_ranges_match_consecutive_date_ranges(spark, tmp_path):
    # brute force: gaps, duplicates, NULLs and single dates, against the
    # distributed island construction
    rng = random.Random(7)
    base = dt.date(2024, 1, 1)
    cases = [[base], [base, base, None], [None]]
    for _ in range(6):
        days = rng.sample(range(40), rng.randint(1, 15))
        cases.append(
            [base + dt.timedelta(days=d) for d in days for _ in range(rng.randint(1, 3))]
            + [None] * rng.randint(0, 2)
        )
    for i, case in enumerate(cases):
        df = spark.createDataFrame([(d, 1) for d in case], "d date, v int")
        want = [
            (str(r.range_start), str(r.range_end))
            for r in consecutive_date_ranges(df, "d").collect()
        ]
        assert load_report(df, str(tmp_path / f"t{i}"), "d") == want, case


def test_audit_append_writes_one_file(spark, tmp_path):
    apath = str(tmp_path / "audit")
    append_audit(spark, apath, "train_list", "insert", [f"2024-01-0{i}" for i in range(1, 8)])
    assert len(glob.glob(f"{apath}/*.parquet")) == 1


def test_audit_append_and_version_gate(spark, tmp_path):
    apath = str(tmp_path / "audit")
    append_audit(spark, apath, "train_list", "insert", ["2024-01-01", "2024-01-02"])
    append_audit(spark, apath, "occupancy", "insert", ["2024-01-01"])
    audit = read_audit(spark, apath)
    assert audit.count() == 3
    assert audit.filter("table_name = 'train_list'").count() == 2

    vpath = str(tmp_path / "versions")
    check_version_gate(spark, vpath, my_version=0.83)  # no table yet: ok
    record_version(spark, vpath, 0.83)
    check_version_gate(spark, vpath, my_version=0.83)  # same: ok
    record_version(spark, vpath, 0.90)
    with pytest.raises(RuntimeError, match="0.9"):
        check_version_gate(spark, vpath, my_version=0.83)


def test_version_gate_corrupt_table_raises(spark, tmp_path):
    # a corrupt/unreadable version table must NOT silently disable the
    # gate — only a genuinely missing path means "first run"
    vdir = tmp_path / "versions_corrupt"
    vdir.mkdir()
    (vdir / "part-0000.parquet").write_text("this is not parquet")
    with pytest.raises(Exception):
        check_version_gate(spark, str(vdir), my_version=0.83)


class _FakeCursor:
    def __init__(self, log):
        self.log = log

    def __enter__(self):
        return self

    def __exit__(self, *a):
        return False

    def copy_expert(self, sql, buf):
        self.log.append(("copy", sql, buf.read()))


class _FakeConn:
    def __init__(self, log):
        self.log = log

    def cursor(self):
        return _FakeCursor(self.log)

    def commit(self):
        self.log.append(("commit",))

    def close(self):
        self.log.append(("close",))


def test_copy_loader_sql_shape_and_null_roundtrip():
    from train_reports_etl_spark.sinks.jdbc_copy import (
        copy_sql,
        encode_csv_rows,
        make_partition_loader,
    )

    # identifiers quoted injection-safe, schema-qualified table split
    sql = copy_sql("analytics.occupancy", ["day", 'weird"col'])
    assert sql == (
        'COPY "analytics"."occupancy" ("day", "weird""col") '
        "FROM STDIN WITH (FORMAT csv, NULL '')"
    )

    # NULL vs empty string: None -> unquoted empty (NULL), "" -> quoted
    text, n = encode_csv_rows(iter([(None, "", 'a"b', 1.5)]))
    assert n == 1
    assert text == ',"","a""b","1.5"\r\n'

    log: list = []
    loader = make_partition_loader("dsn://x", "t", ["a", "b"], connect=lambda dsn: _FakeConn(log))
    loader(iter([("x", None), (None, "y")]))
    assert [e[0] for e in log] == ["copy", "commit", "close"]
    assert log[0][2] == '"x",\r\n,"y"\r\n'

    # empty partition: no connection opened at all
    log.clear()
    loader(iter([]))
    assert log == []


def test_bucketed_join_plans_without_exchange(spark, tmp_path):
    from train_reports_etl_spark.sinks.bucketed import write_bucketed

    # warehouse.dir is a static conf; managed test tables live in the
    # session default (./spark-warehouse, gitignored) and DROP TABLE
    # in the finally removes their files.
    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    write_bucketed(left, "bkt_left", ["k"], 4, sort_cols=["k"])
    write_bucketed(right, "bkt_right", ["k"], 4, sort_cols=["k"])
    try:
        # hint forces SMJ (tiny test tables would broadcast otherwise —
        # at real scale both sides exceed the broadcast threshold)
        j = spark.table("bkt_left").join(spark.table("bkt_right").hint("merge"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # co-located: the bucketing IS the exchange, done once at write
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == 1000
        # aggregation on the bucket key also skips its exchange
        agg = spark.table("bkt_left").groupBy("k").count()
        aplan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in aplan
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_compaction_reduces_files_and_preserves_data(spark, tmp_path):
    from train_reports_etl_spark.sinks.compaction import compact_parquet, table_file_stats

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(24).write.parquet(path)
    n0, total0 = table_file_stats(spark, path)
    assert n0 == 24
    before = df.collect()

    n_before, n_after = compact_parquet(spark, path, target_mb=1024)
    assert (n_before, n_after) == (24, 1)
    got = spark.read.parquet(path).collect()
    assert sorted(r.k for r in got) == sorted(r.k for r in before)
    n1, total1 = table_file_stats(spark, path)
    assert n1 == 1
    # no leftover temp/old dirs
    leftovers = [p.name for p in tmp_path.iterdir() if "__" in p.name]
    assert leftovers == []


def test_range_sorted_write_yields_disjoint_rowgroup_stats(spark, tmp_path):
    """Sorted layout => parquet row-group [min,max] intervals are
    pairwise disjoint (footer-only data skipping works); hash layout
    => ranges overlap. Proven from the actual footers via pyarrow."""
    import glob

    import pyarrow.parquet as pq

    from train_reports_etl_spark.sinks.sorted_write import write_range_sorted

    df = spark.range(0, 50_000).withColumnRenamed("id", "k").withColumn(
        "v", (F.col("k") * 7919) % 1000
    )
    shuffled = df.repartition(8)  # hash layout: every file spans ~full range

    sorted_path = str(tmp_path / "sorted")
    hash_path = str(tmp_path / "hashed")
    write_range_sorted(shuffled, sorted_path, ["k"], n_files=8)
    shuffled.write.parquet(hash_path)

    def intervals(path):
        out = []
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(0).statistics
                out.append((st.min, st.max))
        return sorted(out)

    srt = intervals(sorted_path)
    assert len(srt) >= 8
    for (lo1, hi1), (lo2, hi2) in zip(srt, srt[1:]):
        assert hi1 < lo2          # strictly disjoint -> skippable by footer

    hsh = intervals(hash_path)
    overlaps = sum(1 for (l1, h1), (l2, h2) in zip(hsh, hsh[1:]) if h1 >= l2)
    assert overlaps == len(hsh) - 1   # hash layout: everything overlaps

    # and the data round-trips
    assert spark.read.parquet(sorted_path).count() == 50_000


def test_jsonl_corpus_read_quarantines_corrupt_lines(spark, tmp_path):
    """S14 — PERMISSIVE JSONL read: good rows parse with the declared
    schema, malformed lines go to quarantine verbatim (plain and gzip)."""
    import gzip

    from train_reports_etl_spark.sources.jsonl import read_jsonl_corpus

    lines = [
        '{"doc_id": 1, "text": "alpha"}',
        'this is not json',
        '{"doc_id": 2, "text": "beta"}',
        '{"doc_id": "NaN-ish", "text": 3}',
    ]
    plain = tmp_path / "corpus.jsonl"
    plain.write_text("\n".join(lines) + "\n")
    gz = tmp_path / "corpus2.jsonl.gz"
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(lines) + "\n")

    for src in (str(plain), str(gz)):
        good, bad = read_jsonl_corpus(spark, src, "doc_id long, text string")
        assert {(r["doc_id"], r["text"]) for r in good.collect()} >= {(1, "alpha"), (2, "beta")}
        bad_lines = [r["_corrupt_record"] for r in bad.collect()]
        assert "this is not json" in bad_lines
        assert good.columns == ["doc_id", "text"]


def test_bulk_load_constraint_hooks_ordering(spark, monkeypatch):
    """S9+ constraint lifecycle (reference `reports_exporter_v0.83.py:
    155,1801-1835`): above the row threshold, drop fires before COPY
    and recreate after — and recreate still fires when the load dies.

    The distributed COPY itself is pinned by
    test_copy_loader_sql_shape_and_null_roundtrip; here it is stubbed
    driver-side so the ordering is observable (executor-side appends
    would not round-trip to this process)."""
    import pytest

    from train_reports_etl_spark.sinks import jdbc_copy
    from train_reports_etl_spark.sinks.jdbc_copy import (
        bulk_load_with_constraint_hooks,
        constraint_sql_hooks,
    )

    order: list = []
    monkeypatch.setattr(
        jdbc_copy, "copy_into_postgres",
        lambda df, dsn, table, columns=None, connect=None: order.append("copy"),
    )

    df = spark.range(0, 10).selectExpr("id AS a", "id * 2 AS b")

    # below threshold: no hooks, straight COPY
    n = bulk_load_with_constraint_hooks(
        df, "dsn://x", "t",
        pre_load=lambda: order.append("pre"),
        post_load=lambda: order.append("post"),
        row_threshold=100,
    )
    assert n == 10
    assert order == ["copy"]

    # above threshold: drop → copy → recreate, in order
    order.clear()
    bulk_load_with_constraint_hooks(
        df, "dsn://x", "t",
        pre_load=lambda: order.append("pre"),
        post_load=lambda: order.append("post"),
        row_threshold=5,
    )
    assert order == ["pre", "copy", "post"]

    # row_count short-circuits the count job and drives the decision
    order.clear()
    bulk_load_with_constraint_hooks(
        df, "dsn://x", "t",
        pre_load=lambda: order.append("pre"),
        post_load=lambda: order.append("post"),
        row_threshold=5, row_count=3,
    )
    assert order == ["copy"]

    # a failing load must still recreate constraints
    order.clear()
    monkeypatch.setattr(
        jdbc_copy, "copy_into_postgres",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("db gone")),
    )
    with pytest.raises(RuntimeError):
        bulk_load_with_constraint_hooks(
            df, "dsn://x", "t",
            pre_load=lambda: order.append("pre"),
            post_load=lambda: order.append("post"),
            row_threshold=5,
        )
    assert order == ["pre", "post"]

    # the SQL hook builders run the given DDL on a fresh driver conn
    ddl: list = []

    class _DDLCursor(_FakeCursor):
        def execute(self, sql):
            ddl.append(sql)

    class _DDLConn(_FakeConn):
        def cursor(self):
            return _DDLCursor(ddl)

    pre, post = constraint_sql_hooks(
        "dsn://x",
        'SELECT "s".remove_constraints(\'s\', \'t\')',
        'SELECT "s".recreate_t_constraints()',
        connect=lambda dsn: _DDLConn([]),
    )
    pre()
    post()
    assert ddl == [
        'SELECT "s".remove_constraints(\'s\', \'t\')',
        'SELECT "s".recreate_t_constraints()',
    ]


def test_write_quarantine_zip_is_real_zip(spark, tmp_path):
    """S8 parity: the quarantine container is a genuine .zip (reference
    `reports_exporter_v0.83.py:601-603`) holding CSV members that
    round-trip the rows."""
    import csv
    import io
    import zipfile

    df = spark.createDataFrame(
        [(1, "a,b"), (2, 'q"uote'), (3, None)], ["id", "val"]
    ).repartition(2)
    from train_reports_etl_spark.sinks.quarantine import write_quarantine_zip

    out = write_quarantine_zip(df, str(tmp_path), "Train List", "error rows", timestamp="t0")
    assert out.endswith("Train List error rows t0.csv.zip")
    assert zipfile.is_zipfile(out)
    rows = []
    with zipfile.ZipFile(out) as zf:
        assert all(n.endswith(".csv") for n in zf.namelist())
        for name in zf.namelist():
            with zf.open(name) as f:
                rdr = csv.reader(io.TextIOWrapper(f, "utf-8"))
                header = next(rdr, None)
                if header is None:
                    continue
                assert header == ["id", "val"]
                rows.extend(rdr)
    got = sorted((int(r[0]), r[1]) for r in rows)
    assert got == [(1, "a,b"), (2, 'q"uote'), (3, "")]


def test_idempotent_overwrite_is_session_independent(spark, tmp_path):
    """S11 must not depend on the session's partitionOverwriteMode pin:
    with the session forced to STATIC (Spark's vanilla default), the
    per-write option still replaces only the touched partitions."""
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        path = str(tmp_path / "tbl_static")
        day1 = spark.createDataFrame([("2024-01-01", 1), ("2024-01-02", 2)], ["d", "v"])
        idempotent_overwrite(day1, path, ["d"])
        day2 = spark.createDataFrame([("2024-01-02", 99)], ["d", "v"])
        idempotent_overwrite(day2, path, ["d"])
        out = {(str(r.d), r.v) for r in spark.read.parquet(path).collect()}
        assert out == {("2024-01-01", 1), ("2024-01-02", 99)}
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def test_orc_round_trip_and_pushdown(spark, tmp_path):
    """ORC source/sink parity: the engine's tables round-trip through
    Spark's native ORC reader/writer (the other columnar format a
    warehouse migration meets), and predicate pushdown reaches the
    ORC scan the same way it does for parquet."""
    from pyspark.sql import functions as F

    from train_reports_etl_spark.sources.registry import load_table

    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "lang", "n_chars", "text"
    )
    path = str(tmp_path / "docs_orc")
    docs.write.format("orc").mode("overwrite").save(path)
    back = spark.read.format("orc").load(path)
    assert back.count() == docs.count()
    assert back.exceptAll(docs).count() == 0
    assert docs.exceptAll(back).count() == 0
    plan = (
        back.filter(F.col("n_chars") > 100)
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "n_chars" in plan
