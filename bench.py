"""Benchmark harness: runs the declared query suite at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line with per-query and
total wall-clock seconds.

    python bench.py [--repeat N] [row ...]

Each query is materialized with the ``noop`` sink, so timings measure
full plan execution, not driver-side collection of wide rows. Named
rows (query names or ``store:<name>``) run only those rows, with the
same warm-up, store prebuild, calibration and spans as the full suite;
each prints one JSON line (median, per-pass walls, trace map) and
BENCH_FULL.json is left as it is.

Noise control (BASELINE.md documents ±3× single-run tail noise on this
host): ``--repeat N`` (default 3, env ``SPARK_GRAFT_BENCH_REPEAT``) runs
the suite N times and records the per-query MEDIAN; the headline
``value`` is the sum of medians — the de-noised wall of one sequential
pass — with the raw all-passes wall in ``wall_all_passes``. Shared
signature stores are prebuilt FIRST into dedicated ``store:<name>``
rows so their one-time build cost stops migrating between whichever
consumer query runs first (r05: e1_dedup_provenance 1.3→6.1 s purely
from store first-touch).

Tracing (always on): every query row runs as two ``perfbench/spans.py``
spans, ``construct`` (``fn(spark, sf_dir)``) and ``execute`` (the noop
write); its wall is the sum of the two span times, and the span
statistics are read after each span closes, outside that time. Stream
micro-batches run under their query's run id, not the span's job
group; a ``StreamProgress`` listener supplies those run ids and the
row's stream jobs are read by them. Each store build runs in one
``store:<name>`` span. BENCH_FULL.json carries per row a ``trace`` map
(median over kept passes of construct/execute/stream jobs, stages,
executor run and CPU seconds, spill MiB, stream batches), the median
shuffle-write ``shuffle_mb`` (10^6 bytes, summed over the row's
construct, execute and stream jobs) and ``trace_overhead_s``, the time
spent opening, closing and reading spans. Wall time at sf0.1 hides
shuffle-volume regressions that dominate at cluster scale.

Host-speed calibration (VERDICT r08 #1): identical-code suite sums
varied 261–312 s across host windows in one afternoon (store prebuild
alone 2.3×), so raw wall ratios conflate code with weather. Every run
records two FIXED-WORK microbenches (single-core sha256 over 256 MiB;
the same per-thread work fanned over 32 threads — hashlib releases
the GIL above 2 KiB buffers, so the threaded bench loads the machine
the way local[32] does) at suite start AND end; tools/bench_diff.py
normalizes wall ratios by the MEASURED speed ratio instead of the
median-ratio clamp, which a genuine uniform code regression could
previously hide behind.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.append(os.path.join(HERE, "perfbench"))

import __spark_entry__ as entrymod
from spans import MB, StreamProgress, Tracer, replaced, stream_stats
from train_reports_etl_spark.session import DEFAULT_CPUS, configure

#: Stage records the status store keeps. A span's stages are read as
#: soon as it ends, but the store's cleanup (every retainedStages/10
#: stage writes past the limit) evicts SKIPPED stages first, since they
#: have no completion time; with Spark's default of 1000, a cleanup
#: between a job's end and the read made the read fail on 3 rows of one
#: sf0.01 pass. No run of these tools reaches this many stages, so no
#: cleanup happens.
RETAINED_STAGES = 100_000


#: 1 MiB of fixed bytes — the calibration unit. The WORK is a constant
#: (same chunk, same counts, every run) so the measured seconds are
#: directly comparable across runs on any host.
_CAL_CHUNK = b"\xa5" * (1 << 20)
_CAL_SINGLE_CHUNKS = 256  # 256 MiB single-thread
_CAL_THREADS = 32  # matches local[32]; fewer cores just measure slower
_CAL_CHUNKS_PER_THREAD = 64  # 64 MiB per thread, 2 GiB total


def _cal_hash(n_chunks: int) -> str:
    import hashlib

    h = hashlib.sha256()
    for _ in range(n_chunks):
        h.update(_CAL_CHUNK)
    return h.hexdigest()


def host_calibration() -> dict:
    """Measured host-speed microbenches (fixed work; see module
    docstring). Returns wall seconds for the single-core and the
    32-thread variants; bench_diff divides new/old to get the host
    speed ratio that separates code regressions from host weather."""
    from concurrent.futures import ThreadPoolExecutor

    t0 = time.time()
    _cal_hash(_CAL_SINGLE_CHUNKS)
    single = round(time.time() - t0, 4)
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=_CAL_THREADS) as ex:
        list(ex.map(_cal_hash, [_CAL_CHUNKS_PER_THREAD] * _CAL_THREADS))
    multi = round(time.time() - t0, 4)
    return {"single_core_hash_sec": single, "multi_core_hash_sec": multi}


def session(app_name: str):
    """The engine's configured local session, keeping every stage record."""
    from pyspark.sql import SparkSession

    builder = configure(SparkSession.builder.master(f"local[{DEFAULT_CPUS}]").appName(app_name))
    return builder.config("spark.ui.retainedStages", str(RETAINED_STAGES)).getOrCreate()


def run_query(df) -> None:
    """Execute the full plan; the noop sink computes every output row
    without bringing any of them to the driver."""
    df.write.format("noop").mode("overwrite").save()


#: Keys of a query row's trace map, each a median over the kept passes.
TRACE_KEYS = (
    "construct_jobs", "execute_jobs", "stream_jobs", "stages",
    "executor_run_s", "executor_cpu_s", "spill_mb", "batches",
)
_SUMMED = ("stages", "executor_run_s", "executor_cpu_s", "spill_mb")


def traced_row(tracer: Tracer, progress: StreamProgress, spark, sf_dir: str, fn, action=run_query):
    """Build ``fn``'s frame in a ``construct`` span and run ``action``
    on it in an ``execute`` span. Returns the action's result and the
    row's record: ``wall`` (the two span times), the trace keys, the
    shuffle-write bytes of all the row's jobs, and the stream figures
    of ``stream_stats`` (``state_rows``, ``state_mb``)."""
    reader = tracer.reader
    progress.run_ids.clear()
    progress.batches.clear()
    first = reader.jobs_submitted()
    with tracer.span("construct", "plans") as c:
        df = fn(spark, sf_dir)
    with tracer.span("execute", "plans") as e:
        result = action(df)
    t0 = time.perf_counter()
    last = reader.jobs_submitted()
    stream = stream_stats(reader, progress, first, last)
    s = reader.stats([j for rid in progress.run_ids for j in reader.group_jobs(rid, first, last)])
    tracer.overhead_s += time.perf_counter() - t0
    parts = (c.stats, e.stats, s)
    return result, {
        "wall": c.seconds + e.seconds,
        "construct_jobs": c.stats["jobs"],
        "execute_jobs": e.stats["jobs"],
        "stream_jobs": s["jobs"],
        **{k: sum(p[k] for p in parts) for k in _SUMMED},
        "shuffle_bytes": round(sum(p["shuffle_write_mb"] for p in parts) * MB),
        "batches": stream["batches"],
        "state_rows": stream["state_rows"],
        "state_mb": stream["state_mb"],
    }


def traced_stores(spark, sf_dir: str, tracer: Tracer, probes_out: list) -> dict[str, tuple[float, dict | None]]:
    """Build every shared signature store, each fresh build in its own
    ``store:<name>`` span. Returns name -> (seconds, trace): the span's
    time and statistics, or the prebuild's time and None for a store
    that failed or was served from earlier work."""
    from train_reports_etl_spark.extensions import store
    from train_reports_etl_spark.extensions.ext_queries import prebuild_shared_stores

    shared = store.shared
    built = {}  # store name -> the span of its build

    def observed(spark_, sf_dir_, name, build, *params):
        if name in built:
            return shared(spark_, sf_dir_, name, build, *params)
        fresh = []

        def build_once():
            fresh.append(name)
            return build()

        # The store persists lazily; counting the new frame fills it
        # here, so the build's jobs run inside its own span.
        with tracer.span(f"store:{name}", "extensions") as sp:
            df = shared(spark_, sf_dir_, name, build_once, *params)
            if fresh:
                df.count()
                built[name] = sp
        return df

    with replaced(shared, observed, "train_reports_etl_spark"):
        timings = prebuild_shared_stores(spark, sf_dir, probe=host_calibration, probes_out=probes_out)
    out = {}
    for name, secs in timings.items():
        sp = built.get(name)
        if secs < 0 or sp is None:
            out[name] = (secs, None)
        else:
            trace = {"build_jobs": sp.stats["jobs"], **{k: sp.stats[k] for k in _SUMMED}}
            out[name] = (round(sp.seconds, 3), _rounded(trace))
    return out


def _rounded(d: dict) -> dict:
    return {k: round(v, 3) for k, v in d.items()}


def select_clean_passes(
    boundary_multi_core: list[float], ratio: float = 1.5
) -> list[int]:
    """Indices of passes whose BOTH boundary calibration probes sit
    within ``ratio`` of the best multi-core probe of the run. A pass
    bracketed by a slow probe ran (at least partly) under a host
    burst; excluding it keeps the per-query medians on clean passes.
    If every pass is dirty nothing is excluded — the run stays honest
    via ``calibration.passes`` either way."""
    n = len(boundary_multi_core) - 1
    best = min(boundary_multi_core)
    ok = [
        i
        for i in range(n)
        if max(boundary_multi_core[i], boundary_multi_core[i + 1])
        < ratio * best
    ]
    return ok if ok else list(range(n))


def main(argv: list[str] | None = None) -> None:
    args = sys.argv[1:] if argv is None else argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        repeat = int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "3"))
    except ValueError:
        print("SPARK_GRAFT_BENCH_REPEAT must be an integer", file=sys.stderr)
        raise SystemExit(2)
    if "--repeat" in args:
        i = args.index("--repeat")
        try:
            repeat = int(args[i + 1])
        except (IndexError, ValueError):
            print("usage: bench.py [--repeat N] [row ...]", file=sys.stderr)
            raise SystemExit(2)
        args = args[:i] + args[i + 2:]
    # Calibration BEFORE the session exists (no JVM background load)
    # and again after the suite — the pair brackets the run, so a host
    # window that shifts MID-suite is visible as begin/end divergence.
    calibration = {"begin": host_calibration()}
    spark = session("bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        run(spark, sf_dir, max(1, repeat), args, calibration)
    finally:
        spark.stop()


def run(spark, sf_dir: str, repeat: int, names: list[str], calibration: dict) -> None:
    """Run the suite, or only the named rows, ``repeat`` times. The
    full suite writes BENCH_FULL.json and prints the summary line; a
    named subset prints one line per row and writes nothing."""
    import statistics

    from train_reports_etl_spark.plans.registry import BENCH_ONLY

    qs = entrymod.queries()
    # Bench-only throughput twins (e.g. the xxhash64 MinHash path whose
    # correctness is covered by its portable md5 twin in the gate).
    qs = {**qs, **BENCH_ONLY}
    if names:
        unknown = [n for n in names if n not in qs and not n.startswith("store:")]
        if unknown:
            print(f"bench: unknown rows: {unknown}", file=sys.stderr)
            raise SystemExit(2)
        qs = {n: fn for n, fn in qs.items() if n in names}
    # Warm the JVM/session on the smallest sf so per-query numbers
    # reflect execution, not session spin-up.
    try:
        run_query(entrymod.entry(spark))
    except Exception:  # noqa: BLE001
        pass
    # Warm the Python worker lane too (daemon fork + pandas/numpy
    # import, ~2-3 s): otherwise the first mapInPandas/pandas_udf
    # query in priority order pays it and its number is startup, not
    # execution.
    try:
        spark.createDataFrame([(1,)], "x int").mapInPandas(
            lambda it: it, "x int"
        ).count()
    except Exception:  # noqa: BLE001
        pass

    tracer = Tracer(spark, "bench", enabled=True)
    progress = StreamProgress()
    spark.streams.addListener(progress)
    timings: dict[str, float] = {}
    traces: dict[str, dict] = {}
    t_suite = time.time()
    # Dedicated store-build rows: one-time signature-store cost, timed
    # once (NOT medianed — later passes would read the cache).
    # Per-store boundary probes (VERDICT r09 #3): stores build once —
    # no medianing protects them — so each build is bracketed by the
    # same fixed-work probe the pass filter uses; a store whose window
    # was measured slow is flagged dirty instead of silently carrying
    # an inflated number (r8→r9: simhash16 3.47→8.18 s, no code change,
    # begin-probe 1.9× slow — host, but only inferable then).
    store_probes: list[dict] = []
    store_names: list[str] = []
    try:
        for sname, (secs, trace) in traced_stores(spark, sf_dir, tracer, store_probes).items():
            timings[f"store:{sname}"] = secs
            if trace is not None:
                traces[f"store:{sname}"] = trace
            store_names.append(sname)
    except Exception as e:  # noqa: BLE001
        print(f"bench: store prebuild failed: {e}", file=sys.stderr)

    runs: dict[str, list[float]] = {name: [] for name in qs}
    # one record per pass, None for a failed pass
    records: dict[str, list[dict | None]] = {name: [] for name in qs}
    pass_cals = [calibration["begin"]]
    try:
        for _pass in range(repeat):
            for name, fn in qs.items():
                try:
                    _, rec = traced_row(tracer, progress, spark, sf_dir, fn)
                    runs[name].append(round(rec["wall"], 3))
                    records[name].append(rec)
                except Exception as e:  # noqa: BLE001
                    runs[name].append(-1.0)
                    records[name].append(None)
                    print(f"bench: {name} failed: {e}", file=sys.stderr)
            # calibration probe at every pass BOUNDARY (begin + after each
            # pass): a noisy-neighbor burst confined to one pass is then
            # measurable, not just inferable from begin/end divergence.
            pass_cals.append(host_calibration())
    finally:
        spark.streams.removeListener(progress)

    # Burst filter (measured, never guessed): a pass whose BOTH
    # boundary probes sit within 1.5x of the best multi-core probe is
    # clean; a pass bracketed by a >=1.5x-slow probe was (at least
    # partly) run under a host burst and its samples are EXCLUDED from
    # the medians — this machine measured same-code multi-core probes
    # swinging 0.098 -> 2.6 s within one suite run, which poisons the
    # median whenever a burst spans two of three passes. If every pass
    # is dirty, nothing is excluded (the run is honest about its
    # window either way: `calibration.passes` carries all probes and
    # `passes_used` the verdict).
    used_idx = select_clean_passes(
        [c["multi_core_hash_sec"] for c in pass_cals]
    )

    for name, vals in runs.items():
        kept = [vals[i] for i in used_idx]
        # any failed pass — kept OR burst-excluded — marks the query
        # failed: a crash that happens to land in a burst-excluded pass
        # must not be laundered out by the filter (host load correlates
        # with OOM/timeout-class failures, the exact ones to surface)
        ok_vals = [v for v in kept if v >= 0]
        timings[name] = (
            round(statistics.median(ok_vals), 3)
            if ok_vals
            and len(ok_vals) == len(kept)
            and all(v >= 0 for v in vals)
            else -1.0
        )
    # Median per-query shuffle-write MB (stable across passes modulo
    # AQE decisions); tracked so a plan change that keeps wall-time flat
    # at sf0.1 but multiplies shuffled bytes is caught mechanically. A
    # query that failed some passes has fewer samples than passes:
    # shuffle_samples records the per-query sample count, and a query
    # with partial coverage is excluded from shuffle_mb rather than
    # medianed over a silent subset. The trace map is medianed over the
    # kept passes that succeeded.
    kept_records = {
        name: [recs[i] for i in used_idx if i < len(recs)]
        for name, recs in records.items()
    }
    shuffle_samples = {
        name: sum(1 for r in recs if r is not None)
        for name, recs in kept_records.items()
    }
    shuffle_mb = {
        name: round(statistics.median(r["shuffle_bytes"] for r in recs) / 1e6, 3)
        for name, recs in kept_records.items()
        if recs and all(r is not None for r in recs)
    }
    for name, recs in kept_records.items():
        ok_recs = [r for r in recs if r is not None]
        if ok_recs:
            traces[name] = _rounded(
                {k: statistics.median(r[k] for r in ok_recs) for k in TRACE_KEYS}
            )
    wall_all_passes = round(time.time() - t_suite, 3)
    trace_overhead_s = round(tracer.overhead_s, 3)

    if names:
        for name in names:
            print(json.dumps({
                "row": name,
                "median": timings.get(name, -1.0),
                "runs": runs.get(name, [timings.get(name, -1.0)]),
                "shuffle_mb": shuffle_mb.get(name),
                "trace": traces.get(name),
            }, separators=(",", ":")))
        return

    calibration["end"] = pass_cals[-1]
    calibration["passes"] = pass_cals
    # Per-store clean/dirty verdicts against the best multi-core probe
    # seen ANYWHERE in the run (store boundaries + pass boundaries):
    # store i is bracketed by store_probes[i] and [i+1]. Dirty stores
    # keep their raw timing (the build DID cost that much this run) but
    # are named, so a cross-round store regression is adjudicable as
    # host-vs-code from the artifact alone. The raw probe list goes to
    # BENCH_FULL.json only — 9 probe dicts would blow the stdout line's
    # char budget; the names list is the compact verdict.
    # min() of the bracket, not max(): store builds are 0.3-8 s, and at
    # that interval single-probe scheduling jitter is routinely ±2×
    # (measured 0.098-0.216 s across 9 probes on an idle host) — max()
    # flagged 5/8 stores on a clean run. A genuine multi-second host
    # burst elevates BOTH boundary probes; one slow probe alone is
    # jitter.
    store_dirty: list[str] = []
    if len(store_probes) == len(store_names) + 1 and store_names:
        all_multi = [c["multi_core_hash_sec"] for c in store_probes] + [
            c["multi_core_hash_sec"] for c in pass_cals
        ]
        best_multi = min(all_multi)
        store_dirty = [
            n
            for i, n in enumerate(store_names)
            if min(
                store_probes[i]["multi_core_hash_sec"],
                store_probes[i + 1]["multi_core_hash_sec"],
            )
            >= 1.5 * best_multi
        ]
    calibration["store_dirty"] = store_dirty
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    total = round(sum(v for v in timings.values() if v >= 0), 3)

    # The driver captures only the last ~2000 chars of stdout and parses
    # the JSON line out of that window (BENCH_r02.json came back
    # parsed:null because 83 per-query entries pushed the line to ~2.6k
    # chars and its head fell outside the window). So: full per-query
    # timings go to BENCH_FULL.json next to this script, and the ONE
    # stdout line carries suite wall + p50/max summary stats + as many
    # per-query entries as fit a hard budget, slowest first — the slow
    # queries are the ones the plan audit grades.
    # Summary stats cover QUERIES only: the store:<name> rows are
    # one-time build costs (they stay in `value`, BENCH_FULL, and the
    # per-query payload) — counting them in n_queries/p50/max would
    # misreport a store build as the slowest query.
    qt = {k: v for k, v in timings.items() if not k.startswith("store:")}
    ok = sorted((v for v in qt.values() if v >= 0), reverse=True)
    p50 = round(ok[len(ok) // 2], 3) if ok else -1.0
    payload = {
        # schema v2 (round 7): `value` is the sum of per-query MEDIANS
        # plus one-time store-build rows — the de-noised wall of one
        # sequential pass — NOT a measured single-run wall. The metric
        # name + version make the semantic change visible to consumers
        # comparing against pre-round-6 rows (which were single-run
        # walls under metric=suite_wall_seconds).
        "metric": "suite_median_pass_seconds",
        "schema_version": 2,
        "value": total,
        "unit": "sec",
        "sf": sf,
        "repeat": repeat,
        "wall_all_passes": wall_all_passes,
        "trace_overhead_s": trace_overhead_s,
        "n_queries": len(qt),
        "n_stores": len(timings) - len(qt),
        "n_failed": sum(1 for v in qt.values() if v < 0),
        "n_stores_failed": sum(
            1 for k, v in timings.items() if k.startswith("store:") and v < 0
        ),
        "p50": p50,
        "max": ok[0] if ok else -1.0,
        "passes_used": len(used_idx),
        "calibration": calibration,
        "queries": {},
    }
    with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as f:
        json.dump(
            dict(
                payload,
                queries=timings,
                shuffle_mb=shuffle_mb,
                # sample count per query — partial coverage (failed
                # passes) is visible instead of laundering through a
                # smaller median
                shuffle_samples=shuffle_samples,
                trace=traces,
                # boundary probes around each store build (store i sits
                # between probes i and i+1); store_dirty in calibration
                # names the builds bracketed by a >=1.5x-slow probe
                store_probes=store_probes,
            ),
            f,
            indent=1,
            sort_keys=True,
        )

    # Stdout-width fixes (r11, VERDICT r10 #3): the slowest-first
    # truncation below meant cross-round PERF pairing covered only rows
    # that stayed slow — a query this engine SPED UP fell out of the
    # printed window and read as "dropped". Three width recoveries, all
    # stdout-only (BENCH_FULL.json keeps full precision + the full
    # calibration block; timing methodology unchanged):
    #   1. per-query entries rounded to 2 decimals on the line,
    #   2. the ~550-char calibration dict compacted to the probe value
    #      lists (same information: every boundary probe + the store
    #      verdict, minus the dict-key overhead),
    #   3. console progress bars disabled (session.py) so the driver's
    #      ~2000-char capture window is not part-eaten by \r fragments —
    #      budget raised 1700 → 1850 accordingly.
    # Net: ~34 → ~75 printed entries at the same capture window.
    payload["calibration"] = {
        "multi_core": [c["multi_core_hash_sec"] for c in pass_cals],
        "single_core": [c["single_core_hash_sec"] for c in pass_cals],
        "store_dirty": store_dirty,
    }
    budget = 1850
    payload["queries_omitted"] = len(timings)  # worst-case width reserved
    by_slowest = sorted(timings, key=lambda k: timings[k], reverse=True)
    for name in by_slowest:
        payload["queries"][name] = round(timings[name], 2)
        if len(json.dumps(payload, separators=(",", ":"))) > budget:
            del payload["queries"][name]
            break
    payload["queries_omitted"] = len(timings) - len(payload["queries"])
    print(json.dumps(payload, separators=(",", ":")))


if __name__ == "__main__":
    main()
