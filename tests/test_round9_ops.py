"""Round-9 additions: measured host-speed calibration in the bench
gate (VERDICT r08 #1 / ADVICE r08 bench_diff), the privacy-module
hardening (decimal TVD numerator, persist hygiene), and the
streaming-HLL element-type contract (ADVICE r08)."""

from __future__ import annotations

import importlib.util
import os

import pytest
from pyspark.sql import functions as F


def _load_tool(name: str, rel: str):
    path = os.path.join(os.path.dirname(__file__), "..", rel)
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _load_bench_diff():
    return _load_tool("bench_diff", os.path.join("tools", "bench_diff.py"))


def _cal(single: float, multi: float) -> dict:
    return {
        "begin": {"single_core_hash_sec": single, "multi_core_hash_sec": multi},
        "end": {"single_core_hash_sec": single, "multi_core_hash_sec": multi},
    }


def test_bench_diff_measured_calibration_normalizes_uniform_host_shift():
    """A 1.6x host window with identical code: every wall 1.6x AND the
    fixed-work microbench 1.6x — nothing should flag, including the
    suite total (which the measured path normalizes, unlike the
    median fallback)."""
    bd = _load_bench_diff()
    old = {
        "value": 100.0,
        "queries": {f"q{i}": 1.0 for i in range(10)},
        "calibration": _cal(0.30, 0.40),
    }
    new = {
        "value": 160.0,
        "queries": {f"q{i}": 1.6 for i in range(10)},
        "calibration": _cal(0.48, 0.64),
    }
    fatal, info = bd.diff_bench(old, new)
    assert fatal == []
    assert any("host-speed calibration" in i for i in info)
    assert any("host-normalized" in i for i in info if i.startswith("suite:"))


def test_bench_diff_flat_calibration_catches_uniform_code_regression():
    """The case the old median clamp could mask: every query 1.6x
    slower but the microbench FLAT means the code regressed uniformly
    — all ten rows and the suite total must flag."""
    bd = _load_bench_diff()
    old = {
        "value": 100.0,
        "queries": {f"q{i}": 1.0 for i in range(10)},
        "calibration": _cal(0.30, 0.40),
    }
    new = {
        "value": 160.0,
        "queries": {f"q{i}": 1.6 for i in range(10)},
        "calibration": _cal(0.30, 0.40),
    }
    fatal, _ = bd.diff_bench(old, new)
    assert len([f for f in fatal if "wall regression" in f]) == 10
    assert any(f.startswith("suite:") for f in fatal)


def test_bench_diff_calibration_separates_code_from_weather():
    """Mixed case: host 1.6x slower (measured) and ONE query 3x raw
    (i.e. ~1.9x beyond the host) — only that query flags."""
    bd = _load_bench_diff()
    old = {
        "value": 100.0,
        "queries": {f"q{i}": 1.0 for i in range(10)},
        "calibration": _cal(0.30, 0.40),
    }
    new = {
        "value": 161.4,
        "queries": {f"q{i}": 1.6 for i in range(10)},
        "calibration": _cal(0.48, 0.64),
    }
    new["queries"]["q9"] = 3.0
    fatal, _ = bd.diff_bench(old, new)
    walls = [f for f in fatal if "wall regression" in f]
    assert len(walls) == 1 and "q9" in walls[0]


def test_bench_diff_fallback_even_median_averages_middle():
    """ADVICE r08: with an even-length ratio list the old code took
    the upper-middle element, biasing the gate lenient. 10 common
    rows — ratios [1.0 x5, 1.28 x4, 1.75] — give an averaged median
    of (1.0+1.28)/2 = 1.14, so the 1.75x row flags (1.5*1.14 = 1.71);
    the upper-middle pick of 1.28 would have let it pass (1.92)."""
    bd = _load_bench_diff()
    old = {"queries": {f"q{i}": 1.0 for i in range(9)}}
    old["queries"]["hot"] = 1.0
    new = {"queries": {f"q{i}": (1.0 if i < 5 else 1.28) for i in range(9)}}
    new["queries"]["hot"] = 1.75
    fatal, _ = bd.diff_bench(old, new)
    walls = [f for f in fatal if "wall regression" in f]
    assert len(walls) == 1 and "hot" in walls[0]


def test_host_calibration_runs_and_is_positive():
    bench = _load_tool("bench_mod", "bench.py")
    cal = bench.host_calibration()
    assert cal["single_core_hash_sec"] > 0
    assert cal["multi_core_hash_sec"] > 0
    # the threaded bench does 8x the total work; on any multi-core
    # host it must not be 8x slower than single (GIL released)
    assert cal["multi_core_hash_sec"] < 8 * cal["single_core_hash_sec"]


def test_estimate_pairs_blocking_is_exact_binomial(spark):
    """Σ C(m,2) on known block sizes: blocks of 4, 3, 1 → 6+3+0 = 9."""
    from train_reports_etl_spark.extensions.cost import estimate_pairs

    df = spark.createDataFrame(
        [(i, "a" if i < 4 else ("b" if i < 7 else "c")) for i in range(8)],
        ["id", "blk"],
    )
    out = estimate_pairs("blocking", df=df, block_cols=["blk"])
    assert out["candidate_pairs"] == 9
    assert out["rows"] == 8
    assert out["would_saturate"] is False
    capped = estimate_pairs("blocking", df=df, block_cols=["blk"], max_pairs=5)
    assert capped["would_saturate"] is True
    assert capped["degrade_width"] >= 1
    assert capped["degraded_output_rows"] == 8 * capped["degrade_width"]


def test_estimate_pairs_matches_operator_guard_decision(spark, sf_dir):
    """The dry-run verdict must agree with what the real operator
    does: same estimate, same saturation decision, and on the exact
    path the TRUE distinct pair count is bounded by the estimate."""
    from train_reports_etl_spark.extensions.cost import estimate_simhash_pairs
    from train_reports_etl_spark.extensions.dedup import simhash_near_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    est = estimate_simhash_pairs(docs)
    assert est["candidate_pairs"] > 0 and not est["would_saturate"]
    true_pairs = simhash_near_duplicates(docs, max_hamming=3).count()
    assert true_pairs <= est["candidate_pairs"]
    # a 1-pair budget saturates in the dry run exactly as in the op
    tiny = estimate_simhash_pairs(docs, max_pairs=1)
    assert tiny["would_saturate"] is True


def test_estimate_pairs_rp_lsh_and_blocked_cosine(spark, sf_dir):
    from train_reports_etl_spark.extensions.cost import estimate_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    lsh = estimate_pairs("rp_lsh", df=emb)
    assert lsh["candidate_pairs"] >= 0 and lsh["rows"] == 100 * 4  # 4 bands
    blocked = estimate_pairs("blocked_cosine", df=emb, block_col=None)
    assert blocked["candidate_pairs"] == 100 * 99 // 2  # all-pairs warning case


def test_estimate_pairs_unknown_family_raises(spark):
    from train_reports_etl_spark.extensions.cost import estimate_pairs

    with pytest.raises(ValueError, match="unknown family"):
        estimate_pairs("nope")


def test_mad_outlier_gate_hand_computed(spark):
    """9 values, cents {10x4, 100, 1000x3, 100000}: lower median at
    rank 5 = 100; deviations {90x4, 0, 900x3, 99900}: lower median =
    90 -> MAD 90; |x-med| > 270 flags the three 1000s and the spike."""
    from train_reports_etl_spark.extensions.evaluation import mad_outlier_gate

    vals = [0.10] * 4 + [1.00] + [10.00] * 3 + [1000.00]
    df = spark.createDataFrame(
        [(i, v, "view", None) for i, v in enumerate(vals)],
        "event_id long, value double, event_type string, ts timestamp",
    )
    row = mad_outlier_gate(df).collect()[0]
    assert (row.n, row.med_cents, row.mad_cents, row.n_outliers) == (9, 100, 90, 4)


def test_fold_leakage_group_folds_never_leak(spark, sf_dir):
    from train_reports_etl_spark.extensions.evaluation import fold_leakage

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dup = docs.limit(50).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
    )
    out = {r.method: r for r in fold_leakage(docs.unionByName(dup)).collect()}
    assert out["per_group"].leaking_pairs == 0
    assert out["per_group"].dup_pairs == out["per_document"].dup_pairs
    assert out["per_document"].leaking_pairs > 0  # 5 folds, 50 pairs: ~80% leak


def test_padding_waste_sorted_never_worse(spark, sf_dir):
    from train_reports_etl_spark.extensions.evaluation import padding_waste

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {r.method: r for r in padding_waste(docs).collect()}
    a, s = out["arrival_order"], out["length_sorted"]
    assert a.token_sum == s.token_sum  # same corpus, same tokens
    assert s.padded_sum <= a.padded_sum  # sorting can only tighten batches
    assert 0 <= s.waste_ppm <= a.waste_ppm < 1_000_000


def test_reliability_bins_partition_the_corpus(spark, sf_dir):
    from train_reports_etl_spark.extensions.evaluation import (
        expected_calibration_error,
        reliability_bins,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    from train_reports_etl_spark.sources.registry import load_table

    ev = load_table(spark, sf_dir, "events")
    bins = reliability_bins(ev).collect()
    assert sum(r.n for r in bins) == ev.count()
    assert all(0 <= r.bin <= 9 for r in bins)
    assert all(r.gap_ppm == abs(r.conf_ppm - r.acc_ppm) for r in bins)
    ece = expected_calibration_error(ev).collect()[0]
    assert 0 <= ece.ece_ppm <= ece.mce_ppm <= 1_000_000


def test_vocab_estimates_bounds(spark, sf_dir):
    from train_reports_etl_spark.extensions.evaluation import vocab_estimates
    from train_reports_etl_spark.sources.registry import load_table

    rows = vocab_estimates(load_table(spark, sf_dir, "documents")).collect()
    assert rows
    for r in rows:
        assert r.chao1_x1000 >= 1000 * r.v_observed  # lower BOUND adds mass
        assert 0 <= r.coverage_ppm <= 1_000_000
        assert r.f1 + 2 * r.f2 <= r.n_tokens


def test_mrr_recall_monotone_and_consistent(spark, sf_dir):
    from train_reports_etl_spark.extensions.evaluation import retrieval_mrr_recall
    from train_reports_etl_spark.sources.registry import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = sorted(
        retrieval_mrr_recall(docs, ["spark", "window", "fast"]).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == [5, 10, 20]
    hits = [r.hits_at_k for r in rows]
    assert hits == sorted(hits)  # recall monotone in k
    assert len({r.mrr_ppm for r in rows}) == 1  # k-independent
    assert rows[0].mrr_ppm in (0,) or rows[0].mrr_ppm >= 50_000  # 1e6/rank<=20


def test_probe_counting_sink_matches_memory_sink(spark, sf_dir):
    """The probe-only counting sink must count exactly the rows the
    gate's memory sink materializes — same operator pipeline, same
    flush protocol, different sink."""
    import __spark_entry__ as entry
    from train_reports_etl_spark.extensions.ext_queries import PROBE_VARIANTS

    gate_rows = entry.queries()["e5_streaming_session_windows"](
        spark, sf_dir
    ).count()
    probe = PROBE_VARIANTS["e5_streaming_session_windows"](spark, sf_dir)
    assert probe.collect()[0]["emitted_rows"] == gate_rows


def test_streaming_hll_rejects_non_string_elem(spark):
    from train_reports_etl_spark.streaming.stateful import (
        streaming_hll_session_distinct,
    )

    df = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr(
            "cast(value % 3 as string) as user_id",
            "value as event_type",  # bigint — must be rejected
            "timestamp as ts",
        )
    )
    with pytest.raises(TypeError, match="must be.*StringType"):
        streaming_hll_session_distinct(df)


def test_bench_burst_filter_selects_clean_passes():
    """A pass bracketed by a >=1.5x-slow multi-core probe is excluded;
    an all-dirty run keeps everything (no silent empty medians)."""
    bench = _load_tool("bench", "bench.py")
    sel = bench.select_clean_passes
    assert sel([0.1, 0.1, 0.1, 0.1]) == [0, 1, 2]
    assert sel([0.1, 0.1, 2.6, 0.1]) == [0]  # burst poisons passes 1+2
    assert sel([2.0, 0.1, 0.1, 0.1]) == [1, 2]
    # uniformly slow host: that's the NORMALIZATION case (bench_diff
    # divides by the measured calibration), not a burst — all kept
    assert sel([0.3, 0.31, 0.29, 0.3]) == [0, 1, 2]
    # every pass touched by a burst: keep all three rather than
    # silently emptying the medians (calibration.passes tells the tale)
    assert sel([0.1, 0.9, 0.16, 0.9]) == [0, 1, 2]


# ------------------------------------------------- bench rows in spans


def test_bench_row_trace_counts_jobs_and_shuffle_by_span(spark, sf_dir):
    """A row of known shape: one job while it is built, a groupBy when
    it runs. The trace has the exact job counts, and the row's shuffle
    bytes are the StageReader statistics of its execute span. AQE is
    off for the row, so its groupBy is one job whose stages all run."""
    from train_reports_etl_spark.session import conf_scope

    bench = _load_tool("bench", "bench.py")  # also puts perfbench/ on sys.path
    from spans import MB, StageReader

    def row(spark_, _sf_dir):
        spark_.range(10).collect()
        return spark_.range(0, 1000, numPartitions=4).groupBy(
            (F.col("id") % 7).alias("k")
        ).count()

    tracer = bench.Tracer(spark, "bench-test", enabled=True)
    with conf_scope(spark, "spark.sql.adaptive.enabled", "false"):
        _, rec = bench.traced_row(tracer, bench.StreamProgress(), spark, sf_dir, row)
    construct, execute = tracer.spans
    assert (rec["construct_jobs"], rec["execute_jobs"]) == (1, 1)
    assert (rec["stream_jobs"], rec["batches"], rec["state_rows"]) == (0, 0, 0)
    assert rec["stages"] == 3
    assert rec["wall"] == construct.seconds + execute.seconds
    reader = StageReader(spark)
    st = reader.stats(reader.group_jobs(execute.group, execute.first_job, execute.last_job))
    assert rec["shuffle_bytes"] == round(st["shuffle_write_mb"] * MB) > 0


@pytest.fixture(scope="module")
def bench_subset(sf_dir):
    """One ``bench.py --repeat 1`` run of three named rows in a process
    of its own, and BENCH_FULL.json before and after it."""
    import json
    import subprocess
    import sys

    root = os.path.join(os.path.dirname(__file__), "..")
    path = os.path.join(root, "BENCH_FULL.json")
    names = ["flagship_latest_order", "e1_streaming_dedup_first_seen", "store:simhash60"]
    with open(path, "rb") as fh:
        before = fh.read()
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_DRIVER_MEM="2g")
    out = subprocess.run(
        [sys.executable, "bench.py", "--repeat", "1", *names],
        cwd=root, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    with open(path, "rb") as fh:
        after = fh.read()
    rows = [json.loads(ln) for ln in out.stdout.splitlines() if ln.startswith("{")]
    return names, rows, before, after


def test_bench_subset_prints_rows_and_leaves_bench_full_alone(bench_subset):
    """``bench.py q …`` prints one line per named row and does not
    write BENCH_FULL.json."""
    names, rows, before, after = bench_subset
    assert [r["row"] for r in rows] == names
    query, _, build = rows
    assert query["median"] > 0 and len(query["runs"]) == 1
    assert query["trace"]["construct_jobs"] >= 1 and query["trace"]["execute_jobs"] >= 1
    assert build["median"] > 0 and build["trace"]["build_jobs"] >= 1
    assert after == before


def test_bench_streaming_row_reads_stream_jobs_by_run_id(bench_subset):
    """Micro-batches run under the stream's run id, outside the row's
    spans; the row still counts their jobs and batches."""
    _, rows, _, _ = bench_subset
    trace = rows[1]["trace"]
    assert trace["stream_jobs"] >= 1
    assert trace["batches"] >= 1


def test_library_reads_no_progress_or_status_store():
    """Measurement lives in perfbench/spans.py: library code reads no
    streaming progress and no job or stage status."""
    import pathlib
    import re

    package = pathlib.Path(__file__).resolve().parents[1] / "train_reports_etl_spark"
    found = [
        f"{path.relative_to(package).as_posix()}: {line.strip()}"
        for path in sorted(package.rglob("*.py"))
        for line in path.read_text().splitlines()
        if re.search(r"recentProgress|statusStore|statusTracker", line)
    ]
    assert found == []
