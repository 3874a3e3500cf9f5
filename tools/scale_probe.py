"""Measure the scaling exponent of the pair-pipeline query family on
builder-owned N× datasets (tools/gen_scaledata.py output).

For each dataset dir and query: prebuild the shared signature stores
(timed per store), then run the query ``--repeat`` times and keep the
median wall and result row count. The headline number per query is the
fitted exponent alpha of t ~ n^alpha between successive dirs — the
empirical check of SCALING.md's "≲ linear growth at 10×" claims that
plan audits alone cannot provide.

Usage::

    python tools/scale_probe.py [--repeat 3] [--json OUT] \
        [--dirs .scaledata/x1,.scaledata/x3,.scaledata/x10] [query ...]

Default query set = the quadratic-prone candidates VERDICT r06 named:
hamming chunk-pair join, the LSH/jaccard family, SemDeDup, substring
spans, plus two linear controls (exact dedup, quality gate) whose
alpha should sit near 1.0 as a baseline for harness overhead.

Each (dir, query, repeat) runs in the bench's traced row
(``bench.traced_row``: ``construct`` and ``execute`` spans, the action
being ``count()``), so every cell also records its jobs, stages and
shuffle-write MB (10^6 bytes) from the span statistics, and streaming
cells their micro-batches, ``state_rows`` and ``state_mb``.
"""

from __future__ import annotations

import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from bench import session, traced_row  # also puts perfbench/ on sys.path
from spans import StreamProgress, Tracer

DEFAULT_QUERIES = [
    # quadratic-prone pair pipelines (VERDICT r06 #1)
    "e6_hamming_pair_join",
    "e2_jaccard_near_dup",
    "e2_minhash_portable_near_dup",
    "e2_lsh_recall_report",
    "e2_containment_dup",
    "e2_rp_lsh_near_dup",
    "e2_cosine_near_dup",
    "e2_winnow_near_dup",
    "e3_semdedup",
    "e1_substring_dup_spans",
    # linear controls
    "e1_exact_dedup_groups",
    "e4_quality_gate",
]

# The stateful streaming family (VERDICT r07 #1): wall is only half the
# story here — the probe also records each run's state-store rows and
# bytes (applyInPandasWithState / symmetric-join / window state) from
# the stream's progress events (``perfbench/spans.stream_stats``: the
# max over micro-batches of the batch's rows summed over its stateful
# operators). Select with ``--family streaming``.
STREAMING_QUERIES = [
    "e5_stateful_sessionize",
    "e1_streaming_dedup_first_seen",
    "e5_stream_stream_join",
    "e5_streaming_sliding_windows",
    "e5_streaming_session_windows",
]

# The shuffle-heavy relational shapes (VERDICT r07 missing #3): the
# TPC-H-class rows never measured above sf0.1's ~600k lineitem.
# ``--family star`` runs them on tools/gen_scaledata.py --star output
# (star_x10 ≈ sf1, 6.1M lineitem).
STAR_QUERIES = [
    "j14_sole_late_supplier",
    "j11_min_cost_supplier",
    "a9_percentiles",
    "o4_topk_per_group",
    "j8_star_join_revenue",
    # round-8e widening: the next tier of shuffle-heavy relational
    # shapes (market-share star join, returned-items rollup, top-N
    # unshipped, grouped pricing summary, global-rank window)
    "j16_market_share",
    "j19_returned_items",
    "j9_top_unshipped_orders",
    "a4_pricing_summary",
    "o5_distributed_rank",
]

# Table whose row count is the n of the t ~ n^alpha fit, per query
# prefix/name. Round-7 fitted EVERYTHING against documents, which
# mislabeled the semdedup-family exponents (their n is embeddings) —
# now each query is fitted against the table it actually scans.
N_TABLE_OVERRIDES = {
    "e3_semdedup": "embeddings",
    "e3_semdedup_matmul": "embeddings",
    "e94_reliability_bins": "events",
    "e94_ece": "events",
    "e99_mad_outlier_gate": "events",
    "e100_auc_rank_sum": "events",
    "e104_benford_audit": "events",
    "e106_ks_drift": "events",
    "e73_record_linkage_pairs": "customer",
    "e73_linkage_confusion": "customer",
    "e76_isotonic_calibration": "events",
    "e87_l_diversity_audit": "customer",
    "e93_t_closeness_audit": "customer",
    **{q: "lineitem" for q in STAR_QUERIES},
}


def n_table_for(name: str) -> str:
    if name in N_TABLE_OVERRIDES:
        return N_TABLE_OVERRIDES[name]
    if name in STREAMING_QUERIES or "streaming" in name or "stream" in name:
        return "events"
    return "documents"


def main() -> int:
    argv = sys.argv[1:]
    repeat = 3
    json_out = None
    dirs = [".scaledata/x1", ".scaledata/x3", ".scaledata/x10"]
    if "--repeat" in argv:
        i = argv.index("--repeat")
        repeat = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--dirs" in argv:
        i = argv.index("--dirs")
        dirs = argv[i + 1].split(",")
        argv = argv[:i] + argv[i + 2 :]
    family = None
    if "--family" in argv:
        i = argv.index("--family")
        family = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if family == "streaming":
        names = argv or STREAMING_QUERIES
    elif family == "star":
        names = argv or STAR_QUERIES
    elif family is not None:
        print(f"unknown --family {family!r} ('streaming' or 'star')")
        return 2
    else:
        names = argv or DEFAULT_QUERIES

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    dirs = [d if os.path.isabs(d) else os.path.join(here, d) for d in dirs]
    for d in dirs:
        if not os.path.isdir(d):
            print(f"missing dataset dir {d} — run tools/gen_scaledata.py first")
            return 2

    spark = session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    # Probe-only sink overrides (e.g. the session-window counting sink:
    # the gate's memory sink collects every emitted row to the driver,
    # which dominated the x30 wall and polluted the operator's alpha)
    from train_reports_etl_spark.extensions.ext_queries import PROBE_VARIANTS

    qs = {**qs, **{k: v for k, v in PROBE_VARIANTS.items() if k in qs}}
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    from train_reports_etl_spark.extensions.ext_queries import prebuild_shared_stores

    import statistics

    # doc-count per dir (the n of t ~ n^alpha; documents is the driver
    # table for every query in the default set except semdedup-family,
    # whose n is embeddings — recorded separately for exponent fits)
    import pyarrow.parquet as pq

    meta = {
        d: {
            t: pq.read_metadata(os.path.join(d, f"{t}.parquet")).num_rows
            for t in ("documents", "embeddings", "events", "lineitem")
            if os.path.exists(os.path.join(d, f"{t}.parquet"))
        }
        for d in dirs
    }

    tracer = Tracer(spark, "scale-probe", enabled=True)
    progress = StreamProgress()
    spark.streams.addListener(progress)
    results: dict[str, dict] = {"dirs": meta, "repeat": repeat, "stores": {}, "queries": {}}
    for d in dirs:
        label = os.path.basename(d.rstrip("/"))
        try:
            for sname, secs in prebuild_shared_stores(spark, d).items():
                results["stores"].setdefault(sname, {})[label] = round(secs, 3)
        except Exception as e:  # noqa: BLE001 — a store needing absent tables
            print(f"store prebuild partial on {label}: {e}", file=sys.stderr)
        for name in names:
            recs, rows = [], -1
            for _ in range(repeat):
                try:
                    rows, rec = traced_row(
                        tracer, progress, spark, d, qs[name], action=lambda df: df.count()
                    )
                    recs.append(rec)
                except Exception as e:  # noqa: BLE001
                    print(f"{label} {name} FAILED: {str(e)[:200]}", file=sys.stderr)
                    recs = []
                    break
            cell = {"wall": round(statistics.median(r["wall"] for r in recs), 3) if recs else -1.0, "rows": rows}
            if recs:
                cell["jobs"] = statistics.median(
                    r["construct_jobs"] + r["execute_jobs"] + r["stream_jobs"] for r in recs
                )
                cell["stages"] = statistics.median(r["stages"] for r in recs)
                cell["shuffle_mb"] = round(statistics.median(r["shuffle_bytes"] for r in recs) / 1e6, 3)
                # keep the run with the largest observed state
                top = max(recs, key=lambda r: r["state_rows"])
                if top["batches"]:
                    cell.update(
                        batches=top["batches"], state_rows=top["state_rows"], state_mb=round(top["state_mb"], 3)
                    )
            results["queries"].setdefault(name, {})[label] = cell
            extra = ""
            if "state_rows" in cell:
                extra = f" state_rows={cell['state_rows']} state_mb={cell['state_mb']:.1f}"
            print(
                f"{label:6s} {name:32s} wall={cell['wall']:8.3f}s rows={rows}"
                f" jobs={cell.get('jobs', -1)} shuffle_mb={cell.get('shuffle_mb', -1.0)}{extra}"
            )
    spark.streams.removeListener(progress)

    # exponent fit between consecutive dirs, on the table each query
    # actually scans (documents / embeddings / events)
    print("\n== scaling exponents (t ~ n^alpha, n = query's base table) ==")
    labels = [os.path.basename(d.rstrip("/")) for d in dirs]
    for name in names:
        rec = results["queries"][name]
        tbl = n_table_for(name)
        rec["n_table"] = tbl
        cells = []
        for a, b, da, db in zip(labels, labels[1:], dirs, dirs[1:]):
            wa, wb = rec[a]["wall"], rec[b]["wall"]
            # a dir without the base table must not crash the fit
            # stage AFTER the (long) measurement loop already ran —
            # skip its cells, the measured walls are still written
            na, nb = meta[da].get(tbl), meta[db].get(tbl)
            if na and nb and wa > 0 and wb > 0:
                alpha = math.log(wb / wa) / math.log(nb / na)
                cells.append(f"{a}->{b}: {alpha:5.2f}")
                rec[f"alpha_{a}_{b}"] = round(alpha, 3)
            # state-size growth exponent for streaming queries: at
            # 100 TB, state rows growing FASTER than keys is the
            # failure mode wall-time hides on small runs
            sa = rec.get(a, {}).get("state_rows", 0)
            sb = rec.get(b, {}).get("state_rows", 0)
            if na and nb and sa > 0 and sb > 0:
                salpha = math.log(sb / sa) / math.log(nb / na)
                cells.append(f"state {a}->{b}: {salpha:5.2f}")
                rec[f"state_alpha_{a}_{b}"] = round(salpha, 3)
        print(f"{name:32s} [{tbl}] {'  '.join(cells)}")

    if json_out:
        with open(json_out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
