"""Mechanical single-row-group serialization audit (VERDICT r08 #5).

Four operators independently hit the same disease in round 8: a
parquet input written as ONE row group plans as N byte-range splits,
but every row materializes in the one split containing the row-group
offset, so any explode/aggregate fused into the scan stage runs
serially on one core (trigram-LM 59 s -> 5.4 s once guarded). The fix
is ``util.repartition_if_coarse``, adopted per-op as each discovery
landed. This tool converts that recurring discovery into a mechanical
invariant:

1. ``--build`` writes TWO copies of every gate table (TPC-H tables
   from the star probe dataset, documents/embeddings/events from the
   N-x corpus): ``audit_rg1/`` as ONE row group per file and
   ``audit_rgN/`` as many row groups (the same bytes Spark can
   actually parallelize).
2. The audit runs every registered batch query against BOTH copies
   under per-query job groups and flags on the WALL RATIO:
   ``wall(rg1) > max(ratio * wall(rgN), wall(rgN) + slack_q)``. The
   single-row-group copy always pays one irreducible serial scan task
   per input table (parquet's parallelism unit is the row group — no
   plan can split below it), so the slack is MEASURED, not guessed:
   the audit first times each table's bare scan→repartition→noop on
   the rg1 copy and sets ``slack_q`` = Σ of those serial-scan costs
   over the tables the query actually read (``df.inputFiles()``)
   plus ``--slack`` noise margin. What then flags is COMPUTE fused
   into the serial scan beyond the scan itself — the round-8 disease
   (trigram-LM 59 s vs 5.4 s = 11x). Per-task executorRunTime skew
   (one task >= ``--share`` of a >= ``--min-stage-ms`` stage) is
   recorded per stage as a diagnostic to localize the fused stage,
   but does not flag by itself — after the round-9 ``load_table``
   guard the residual high-share stages are exactly those scan tasks.

Streaming queries are excluded: their micro-batch jobs run on the
stream-execution thread outside the caller's job group (and their
scans go through ``_stream_events``, one shared path). Store-build
rows are timed by bench, not here.

Usage::

    python tools/rowgroup_audit.py --build            # write the copies
    python tools/rowgroup_audit.py [--json OUT] [query ...]

Exit 1 when any query degrades past the bound, so the evidence sweep
can gate on it like bench_diff.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import run_query
from train_reports_etl_spark.session import get_spark

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
CORPUS_TABLES = ("documents", "embeddings", "events")

#: queries whose dominant stage is legitimately narrow at audit scale
#: (bounded driver-side folds, k tiny TakeOrdered jobs, single-row
#: outputs) — audited but not fatal; each entry documents why.
ALLOWLIST: dict[str, str] = {}


def build(dst1: str, dstn: str, star_src: str, corpus_src: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(dst1, exist_ok=True)
    os.makedirs(dstn, exist_ok=True)
    for t, src in [(t, star_src) for t in STAR_TABLES] + [
        (t, corpus_src) for t in CORPUS_TABLES
    ]:
        path = os.path.join(src, f"{t}.parquet")
        tbl = pq.read_table(path)
        out1 = os.path.join(dst1, f"{t}.parquet")
        pq.write_table(tbl, out1, row_group_size=max(1, tbl.num_rows))
        meta = pq.ParquetFile(out1).metadata
        assert meta.num_row_groups == 1, (t, meta.num_row_groups)
        outn = os.path.join(dstn, f"{t}.parquet")
        pq.write_table(
            tbl, outn, row_group_size=max(1, (tbl.num_rows + 31) // 32)
        )
        rgn = pq.ParquetFile(outn).metadata.num_row_groups
        print(f"{t}: {meta.num_rows} rows -> 1 vs {rgn} row groups")


def stage_skew(spark, group: str) -> list[dict]:
    """Per-stage (n_tasks, sum_ms, max_ms, share) for every stage of
    the given job group, via statusTracker stage ids + AppStatusStore
    per-task metrics (best-effort: a retried/evicted stage is skipped)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sids: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        ji = tracker.getJobInfo(jid)
        if ji is not None:
            sids.update(ji.stageIds)
    store = sc._jsc.sc().statusStore()
    out = []
    for sid in sorted(sids):
        for attempt in (0, 1):
            try:
                tl = store.taskList(sid, attempt, 100_000)
            except Exception:  # noqa: BLE001 — attempt absent/evicted
                continue
            runs = []
            for i in range(tl.size()):
                tm = tl.apply(i).taskMetrics()
                if tm.isDefined():
                    runs.append(tm.get().executorRunTime())
            if runs:
                s = sum(runs)
                out.append(
                    {
                        "stage": sid,
                        "n_tasks": len(runs),
                        "sum_ms": int(s),
                        "max_ms": int(max(runs)),
                        "share": round(max(runs) / s, 3) if s else 0.0,
                    }
                )
            break
    return out


def run_one(spark, qs, name: str, sf_dir: str, group: str, timeout_s: float):
    """Run one query under a job group with a cancel watchdog.
    Returns (wall_seconds, status)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel=True)
    timer = threading.Timer(timeout_s, lambda g=group: sc.cancelJobGroup(g))
    timer.start()
    t0 = time.time()
    status = "ok"
    try:
        run_query(qs[name](spark, sf_dir))
    except Exception as e:  # noqa: BLE001
        status = (
            "timeout"
            if time.time() - t0 >= timeout_s - 1
            else f"error: {str(e)[:120]}"
        )
    finally:
        timer.cancel()
        sc.setJobGroup("rga:idle", "idle")
    return round(time.time() - t0, 2), status


def main() -> int:
    argv = sys.argv[1:]
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dir1 = os.path.join(here, ".scaledata", "audit_rg1")
    dirn = os.path.join(here, ".scaledata", "audit_rgN")
    share_bound, min_stage_ms, timeout_s = 0.5, 2000, 300
    ratio, slack = 2.0, 3.0
    json_out = None
    if "--build" in argv:
        # star_x1 + x10: large enough that a fused serial stage shows a
        # 5-50x ratio, small enough that the 2x-full-registry sweep
        # fits a round's evidence window (the first x30-scale sweep
        # paced ~3h)
        build(
            dir1,
            dirn,
            os.path.join(here, ".scaledata", "star_x1"),
            os.path.join(here, ".scaledata", "x10"),
        )
        return 0
    for flag, cast in (("--json", str), ("--ratio", float), ("--slack", float),
                       ("--share", float), ("--timeout", float)):
        if flag in argv:
            i = argv.index(flag)
            val = cast(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
            if flag == "--json":
                json_out = val
            elif flag == "--ratio":
                ratio = val
            elif flag == "--slack":
                slack = val
            elif flag == "--share":
                share_bound = val
            else:
                timeout_s = val
    if not (os.path.isdir(dir1) and os.path.isdir(dirn)):
        print(f"missing {dir1} / {dirn} — run with --build first")
        return 2

    spark = get_spark("rowgroup-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    names = argv or [
        n for n in qs if "stream" not in n and "streaming" not in n
    ]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    try:
        from train_reports_etl_spark.extensions.ext_queries import (
            prebuild_shared_stores,
        )

        prebuild_shared_stores(spark, dirn)
        prebuild_shared_stores(spark, dir1)
    except Exception as e:  # noqa: BLE001
        print(f"store prebuild partial: {e}", file=sys.stderr)

    # measured irreducible serial-scan cost per table on the rg1 copy
    # (scan -> repartition -> noop: exactly the guard's floor pattern)
    scan_cost: dict[str, float] = {}
    for t in STAR_TABLES + CORPUS_TABLES:
        t0 = time.time()
        try:
            df = spark.read.parquet(os.path.join(dir1, f"{t}.parquet")).repartition(
                spark.sparkContext.defaultParallelism
            )
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001
                df.count()
            scan_cost[t] = round(time.time() - t0, 2)
        except Exception:  # noqa: BLE001
            scan_cost[t] = 0.0
    print("serial-scan floor per table:", scan_cost)

    def tables_read(df) -> set[str]:
        try:
            return {
                os.path.basename(f).replace(".parquet", "").split("-")[0]
                for f in df.inputFiles()
            } & set(STAR_TABLES + CORPUS_TABLES)
        except Exception:  # noqa: BLE001
            return set(STAR_TABLES + CORPUS_TABLES)

    results: dict[str, dict] = {}
    flagged: list[str] = []
    for name in names:
        walln, statusn = run_one(spark, qs, name, dirn, f"rgn:{name}", timeout_s)
        wall1, status1 = run_one(spark, qs, name, dir1, f"rg1:{name}", timeout_s)
        stages = stage_skew(spark, f"rg1:{name}")
        hot = [
            s
            for s in stages
            if s["sum_ms"] >= min_stage_ms
            and s["n_tasks"] >= 4
            and s["share"] >= share_bound
        ]
        try:
            tbls = tables_read(qs[name](spark, dir1))
        except Exception:  # noqa: BLE001
            tbls = set(STAR_TABLES + CORPUS_TABLES)
        slack_q = sum(scan_cost.get(t, 0.0) for t in tbls) + slack
        degraded = (
            statusn == "ok"
            and status1 == "ok"
            and wall1 > max(ratio * walln, walln + slack_q)
        )
        bad = status1 != "ok" or statusn != "ok" or degraded
        rec = {
            "wall_rgN": walln,
            "wall_rg1": wall1,
            "status_rgN": statusn,
            "status_rg1": status1,
            "tables": sorted(tbls),
            "slack_s": round(slack_q, 2),
            "degraded": degraded,
            "hot_stages_rg1": hot,
        }
        results[name] = rec
        if bad and name not in ALLOWLIST:
            flagged.append(name)
        mark = "DEGRAD" if degraded else (
            "FAIL" if (status1 != "ok" or statusn != "ok") else "ok"
        )
        print(
            f"{mark:6s} {name:36s} rgN={walln:7.2f}s rg1={wall1:7.2f}s "
            f"({wall1 / max(walln, 0.01):4.1f}x, slack {slack_q:.1f}s)"
            + (f" [{statusn}/{status1}]" if bad else "")
        )

    print(
        f"\n{len(flagged)} flagged of {len(names)} audited "
        f"(rg1 wall > max({ratio}x rgN, rgN + measured scan floor + {slack}s), "
        f"or failure)"
    )
    for n in flagged:
        print(f"  FLAG {n}")
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {
                    "ratio": ratio,
                    "slack_s": slack,
                    "share_bound": share_bound,
                    "min_stage_ms": min_stage_ms,
                    "flagged": flagged,
                    "queries": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
