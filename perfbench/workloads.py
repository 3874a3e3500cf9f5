"""The benchmark workloads.

Each workload generates its inputs from the seed (:meth:`generate`),
runs one timed pass (:meth:`run_pass`), and checks the outputs of that
pass outside the timed region (:meth:`check`). A pass starts cold: the
signature store and every persisted frame or RDD are dropped first
(:func:`drop_caches`).

- ``report_etl`` loads a seeded inbox of report workbooks into an
  empty target, then runs the same inbox again over that target.
- ``analytics`` builds and runs star-schema queries, then corpus rows
  that build the signature stores they read, cold.
"""

from __future__ import annotations

import csv
import io
import os
import time
import zipfile
from dataclasses import dataclass, field

from pyspark.sql import functions as F

import gen_reports
import gen_tables
import oracle
from spans import Tracer, replaced

from train_reports_etl_spark.extensions import store
from train_reports_etl_spark.plans import registry

# Importing the query modules registers their queries.
from train_reports_etl_spark.plans import star_queries as _star_queries  # noqa: F401
from train_reports_etl_spark.extensions import eval_queries as _eval_queries  # noqa: F401
from train_reports_etl_spark.extensions import ext_queries as _ext_queries  # noqa: F401


@dataclass(eq=False)
class PassResult:
    """What one timed pass did: its timed parts, its operation counts,
    and what the checks need."""

    seconds: float = 0.0
    attempted: int = 0
    failed: int = 0
    parts: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def drop_caches(spark) -> None:
    """Forget every signature-store frame and unpersist every cached
    frame and persisted RDD, so a pass never reads earlier work."""
    store.clear(spark)
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


# ------------------------------------------------------------ report_etl

RUN_TS = "20240310-120000"  # fixed, so a reload overwrites the same quarantine files
INBOX_SCALE = 0.02
REPORT = "train_list"


class ReportEtl:
    """Load an inbox into an empty target, then reload it.

    The composition (read → pipeline → two quarantine zips → load →
    audit, the raw and cleaned frames persisted before they fan out)
    is the one the sinks and pipelines document for callers; no library
    entry point owns it, so it lives here. The inbox holds the
    train-list layout only: each layout adds a fixed set of Spark jobs
    to both parts, and with the booking/payment and occupancy layouts
    a cold pass took over 40 s on a 4-core host.
    """

    name = "report_etl"

    def generate(self, work: str, seed: int) -> None:
        self.inbox = os.path.join(work, "inbox")
        self.expected = gen_reports.generate(self.inbox, seed, INBOX_SCALE)
        self.work = work
        self.inbox_bytes = sum(
            os.path.getsize(os.path.join(self.inbox, f)) for f in os.listdir(self.inbox)
        )

    def _etl(self, spark, tracer: Tracer, target: str) -> dict:
        from train_reports_etl_spark.plans.report_pipelines import train_list_pipeline
        from train_reports_etl_spark.plans.run_summary import run_reports
        from train_reports_etl_spark.sinks.audit import append_audit
        from train_reports_etl_spark.sinks.partitioned import load_report
        from train_reports_etl_spark.sinks.quarantine import write_quarantine_zip

        persisted, out = [], {}
        qdir = os.path.join(target, "quarantine")
        os.makedirs(qdir, exist_ok=True)
        dep_dim = spark.createDataFrame(
            [(t, f"{6 + i % 16}:00:00") for i, t in enumerate(gen_reports.TRAINS)],
            ["train_number", "departure_time"],
        )

        def pipeline(raw):
            with tracer.span(f"read:{REPORT}", "sources"):
                raw = raw.persist()
                persisted.append(raw)
                out["raw_rows"] = raw.count()
            with tracer.span(f"pipeline:{REPORT}", "plans"):
                res = train_list_pipeline(raw, dep_dim)
                res.cleaned = res.cleaned.persist()
                persisted.append(res.cleaned)
            return res

        def exporter(report, res):
            with tracer.span(f"quarantine:{report}", "sinks"):
                write_quarantine_zip(res.error_rows, qdir, report, "errors", RUN_TS)
                write_quarantine_zip(res.duplicates, qdir, report, "duplicates", RUN_TS)
            with tracer.span(f"load:{report}", "sinks"):
                out["ranges"] = load_report(
                    res.cleaned, os.path.join(target, f"{report}.parquet"), "service_date",
                    ["service_date"], warn_non_consecutive=False,
                )
            with tracer.span(f"audit:{report}", "sinks"):
                append_audit(
                    spark, os.path.join(target, "audit.parquet"), report, "load",
                    [f"{a}..{b}" for a, b in out["ranges"]],
                )

        with tracer.span("run_reports", "plans"):
            out["summary"] = run_reports(
                spark, self.inbox, pipelines={REPORT: pipeline}, exporter=exporter
            )
        for df in persisted:
            df.unpersist()
        return out

    def run_pass(self, spark, tracer: Tracer) -> PassResult:
        res = PassResult()
        target = os.path.join(self.work, "target")
        for part in ("load", "reload"):
            with tracer.span(part, "run") as sp:
                out = self._etl(spark, tracer, target)
            res.parts[part] = sp.seconds
            res.info[part] = out
            # The table state after each part is read outside the timed part.
            res.info[f"{part}_state"] = self._state(spark, target)
            events = out["summary"].events
            res.attempted += len(events)
            res.failed += sum(1 for e in events if not e.ok and not self._planted(e))
        res.seconds = res.parts["load"] + res.parts["reload"]
        res.info["target"] = target
        return res

    @staticmethod
    def _planted(event) -> bool:
        return event.stage == "read" and event.unit.endswith("corrupt.xlsx")

    @staticmethod
    def _state(spark, target: str) -> dict:
        """Rows and an order-independent checksum of the table, and
        audit rows."""
        df = spark.read.parquet(os.path.join(target, f"{REPORT}.parquet"))
        row = df.select(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)])))).alias("h"),
        ).collect()[0]
        audit = spark.read.parquet(os.path.join(target, "audit.parquet")).count()
        return {"rows": int(row["n"]), "checksum": int(row["h"] or 0), "audit": audit}

    @staticmethod
    def _zip_rows(path: str) -> int:
        n = 0
        with zipfile.ZipFile(path) as zf:
            for member in zf.namelist():
                with zf.open(member) as fh:
                    n += max(0, sum(1 for _ in csv.reader(io.TextIOWrapper(fh, "utf-8"))) - 1)
        return n

    def check(self, spark, res: PassResult) -> list[str]:
        exp, problems = self.expected, []
        target = res.info["target"]
        qdir = os.path.join(target, "quarantine")
        load, reload = res.info["load_state"], res.info["reload_state"]

        def want(got, expected, what):
            if got != expected:
                problems.append(f"{what}: {got} != {expected}")

        want(res.info["load"]["raw_rows"], exp["tl_total"], "raw rows")
        want(self._zip_rows(f"{qdir}/{REPORT} errors {RUN_TS}.csv.zip"), exp["tl_err"], "error rows")
        want(self._zip_rows(f"{qdir}/{REPORT} duplicates {RUN_TS}.csv.zip"), exp["tl_dup"], "duplicates")
        want(load["rows"], exp["tl_clean"], "loaded rows")
        for part in ("load", "reload"):
            summary = res.info[part]["summary"]
            planted = [e for e in summary.failures if self._planted(e)]
            want(len(planted), 1, f"{part} corrupt-file read events")
            want(sorted(summary.results), [REPORT], f"{part} reports loaded")
        tl = spark.read.parquet(os.path.join(target, f"{REPORT}.parquet"))
        copies = exp["copy2_tickets"]
        winners = {
            r["status"]: r["count"]
            for r in tl.filter(F.col("ticket_number").isin(copies)).groupBy("status").count().collect()
        }
        want(winners, {"COPY2": len(copies)}, "keep-last winners")
        n_ranges = len(res.info["load"]["ranges"])
        want(load["audit"], n_ranges, "audit rows after load")
        want((reload["rows"], reload["checksum"]), (load["rows"], load["checksum"]), "reload state")
        want(reload["audit"], 2 * n_ranges, "audit rows after reload")
        res.info["rows_clean"] = load["rows"]
        res.info["rows_error"] = exp["tl_err"]
        res.info["rows_dup"] = exp["tl_dup"]
        return problems

    def output_files(self, target: str) -> tuple[int, int, int]:
        """(files, bytes, quarantine bytes) written under a target."""
        files = size = qbytes = 0
        for root, _, names in os.walk(target):
            for n in names:
                if n.startswith(".") or n == "_SUCCESS":
                    continue
                b = os.path.getsize(os.path.join(root, n))
                files += 1
                size += b
                if n.endswith(".csv.zip"):
                    qbytes += b
        return files, size, qbytes


# ------------------------------------------------------------- analytics

DATA_MULT = 0.1  # sf0.01 row counts: 15k orders, ~60k lineitem, 500 documents


class Analytics:
    """Read-only analytics: a closed loop over registered queries. Each
    one is built (``fn(spark, data_dir)``) and its rows are collected to
    the client, which is what a caller of a query waits for.

    Star-schema queries come first, then corpus rows run against an
    empty signature store, so each row builds the stores it reads,
    cold. The star queries cover the flagship, window and data-quality
    families; each starts with ``load_table`` reads. The
    corpus rows are one per mechanism: store scans (the exact Jaccard
    near-duplicate join, which builds its shingle-posting and pair
    stores), iterative operators with per-round driver actions
    (waterfill budget allocation), driver-side order statistics
    (trimmed and winsorized means) and Python streaming state
    (first-seen dedup). Every store build runs inside an ``extensions``
    span. The list is trimmed so that one cold pass takes about 20 s on
    a 4-core host.
    """

    name = "analytics"
    names = (
        "flagship_latest_order", "w1_keep_last_dedup", "dq_table_checksums",
        "e2_jaccard_near_dup", "e83_waterfill_budget",
        "e107_trimmed_winsorized", "e1_streaming_dedup_first_seen",
    )

    def generate(self, work: str, seed: int) -> None:
        self.data = os.path.join(work, "tables")
        gen_tables.write_all(self.data, seed, DATA_MULT)

    def _query(self, spark, tracer: Tracer, name: str, res: PassResult) -> None:
        fn = registry.QUERIES[name]
        res.attempted += 1
        with tracer.span(name, "query") as sq:
            try:
                with tracer.span("construct", "plans"):
                    df = fn(spark, self.data)
                with tracer.span("execute", "plans"):
                    rows = df.toPandas()
            except Exception as exc:  # noqa: BLE001 — a failed query is counted, the loop goes on
                res.failed += 1
                res.info.setdefault("errors", {})[name] = f"{type(exc).__name__}: {exc}"[:300]
                return
        res.info.setdefault("query_s", []).append(sq.seconds)
        res.info.setdefault("rows", {})[name] = rows

    def run_pass(self, spark, tracer: Tracer) -> PassResult:
        res = PassResult()
        built, served_warm = {}, []
        shared = store.shared

        def observed(spark_, sf_dir, name, build, *params):
            key = (name, *params)
            if key in built:
                return shared(spark_, sf_dir, name, build, *params)
            fresh = []

            def build_once():
                fresh.append(name)
                return build()

            # The store persists lazily; counting the new frame fills it
            # here, so the build's jobs run inside its own span.
            with tracer.span(f"store:{name}", "extensions") as sp:
                df = shared(spark_, sf_dir, name, build_once, *params)
                if fresh:
                    df.count()
                    built[key] = sp
                else:
                    served_warm.append(name)
            return df

        t0 = time.perf_counter()
        with replaced(shared, observed, "train_reports_etl_spark"):
            for name in self.names:
                self._query(spark, tracer, name, res)
        res.seconds = time.perf_counter() - t0
        # Read after the timed part: a store build that launched no job,
        # or a store served from earlier work, is not cold work.
        res.info["store_jobs"] = [(key[0], tracer.jobs_of(sp)) for key, sp in built.items()]
        res.info["stores_warm"] = served_warm
        if tracer.enabled:
            res.info["cached_mb"] = cached_mb(spark)
        return res

    def check(self, spark, res: PassResult) -> list[str]:
        """Each collected result against its DuckDB oracle, and every
        store build against the cold-work rule."""
        con = oracle.connect(self.data)
        problems = [f"{q}: {e}" for q, e in res.info.get("errors", {}).items()]
        for name, rows in res.info.get("rows", {}).items():
            try:
                why = oracle.mismatch(rows, con.execute(registry.ORACLES[name]).fetchdf())
            except Exception as exc:  # noqa: BLE001 — reported as a wrong result
                why = f"{type(exc).__name__}: {exc}"[:300]
            if why:
                problems.append(f"{name}: {why}")
        con.close()
        if not res.info["store_jobs"]:
            problems.append("no signature store was built")
        problems += [f"store {n} was built without a job" for n, jobs in res.info["store_jobs"] if not jobs]
        problems += [f"store {n} was served from earlier work" for n in res.info["stores_warm"]]
        return problems


def cached_mb(spark) -> float:
    """Memory plus disk held by cached RDDs and frames."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / (1024 * 1024)


WORKLOADS = {w.name: w for w in (ReportEtl, Analytics)}
