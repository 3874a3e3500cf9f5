"""Metrics from the pass of one run: the per-layer metrics of a traced
pass, the detail record, and the percentile rule.

A layer is a module of the engine. Its spans are opened in the
benchmark's own files around calls into that module (see
``workloads.py``): ``sources`` around report reads and ``load_table``,
``plans`` around pipeline and query construction and execution,
``sinks`` around quarantine, load and audit writes, ``extensions``
around each signature-store build, and ``streaming`` through the
stream listener. Counts and sums are over the traced pass. A time is
a self time, the spans' durations less what their child spans cover,
as a job count covers the span's own job group only: a store built
while a query is constructed counts for ``extensions``, not ``plans``.
A metric of a layer the workload does not use is 0.
"""

from __future__ import annotations

import statistics

# name -> unit, in the order BENCHMARK.json lists them.
PER_LAYER = {
    "session.warmup_s": "s",
    "session.conf_changes": "count",
    "sources.discover_s": "s",
    "sources.sheets": "count",
    "sources.read_s": "s",
    "sources.read_tasks": "count",
    "sources.read_rows": "count",
    "sources.read_executor_run_s": "s",
    "sources.read_executor_cpu_s": "s",
    "sources.load_table_calls": "count",
    "sources.load_table_jobs": "count",
    "sources.load_table_s": "s",
    "plans.pipeline_s": "s",
    "plans.pipeline_jobs": "count",
    "plans.pipeline_shuffle_mb": "MB",
    "plans.rows_clean": "count",
    "plans.rows_error": "count",
    "plans.rows_dup": "count",
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.execute_s": "s",
    "plans.execute_jobs": "count",
    "plans.stages": "count",
    "plans.stage_busy_s": "s",
    "plans.driver_gap_s": "s",
    "plans.executor_run_s": "s",
    "plans.executor_cpu_s": "s",
    "plans.shuffle_write_mb": "MB",
    "plans.shuffle_read_mb": "MB",
    "plans.spill_mb": "MB",
    "sinks.quarantine_s": "s",
    "sinks.quarantine_jobs": "count",
    "sinks.quarantine_mb": "MB",
    "sinks.load_s": "s",
    "sinks.load_jobs": "count",
    "sinks.files_written": "count",
    "sinks.output_mb": "MB",
    "sinks.bytes_per_input_byte": "ratio",
    "sinks.audit_s": "s",
    "extensions.store_s": "s",
    "extensions.store_jobs": "count",
    "extensions.store_input_mb": "MB",
    "extensions.store_shuffle_write_mb": "MB",
    "extensions.store_cached_mb": "MB",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    "streaming.executor_run_s": "s",
    "streaming.executor_cpu_s": "s",
    "trace.overhead_s": "s",
}
MB = 1024 * 1024


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q`` quantile (0 < q < 1) of ``values``."""
    ordered = sorted(values)
    return ordered[max(1, _ceil(len(ordered) * q)) - 1]


def reportable(n: int, q: float) -> bool:
    """Whether at least ten of ``n`` samples lie beyond the ``q`` quantile."""
    return n - max(1, _ceil(n * q)) >= 10


def tail(values: list[float], q: float) -> float | None:
    """The ``q`` quantile when at least ten samples lie beyond it."""
    return percentile(values, q) if reportable(len(values), q) else None


def _ceil(x: float) -> int:
    return int(-(-x // 1))


def _pick(tracer, layer: str, prefix: str = "") -> list:
    return [s for s in tracer.spans if s.layer == layer and s.name.startswith(prefix)]


def _secs(tracer, spans) -> float:
    return sum(tracer.self_seconds(s) for s in spans)


def _sum(spans, key: str) -> float:
    return sum(s.stats.get(key, 0) for s in spans)


def _pass_layers(wl, tracer, res) -> dict[str, float]:
    m = dict.fromkeys(PER_LAYER, 0.0)
    m["session.conf_changes"] = len(res.info["conf_changes"])

    parts = [res.info[p] for p in ("load", "reload") if p in res.info]
    m["sources.discover_s"] = _secs(tracer, _pick(tracer, "plans", "run_reports"))
    m["sources.sheets"] = sum(
        1 for p in parts for e in p["summary"].events if e.stage == "read" and e.ok and "#" in e.unit
    )
    read = _pick(tracer, "sources", "read:")
    m["sources.read_s"] = _secs(tracer, read)
    m["sources.read_tasks"] = _sum(read, "tasks")
    m["sources.read_rows"] = sum(p["raw_rows"] for p in parts)
    m["sources.read_executor_run_s"] = _sum(read, "executor_run_s")
    m["sources.read_executor_cpu_s"] = _sum(read, "executor_cpu_s")
    loads = _pick(tracer, "sources", "load_table")
    m["sources.load_table_calls"] = len(loads)
    m["sources.load_table_jobs"] = _sum(loads, "jobs")
    m["sources.load_table_s"] = _secs(tracer, loads)

    pipe = _pick(tracer, "plans", "pipeline:")
    m["plans.pipeline_s"] = _secs(tracer, pipe)
    m["plans.pipeline_jobs"] = _sum(pipe, "jobs")
    m["plans.pipeline_shuffle_mb"] = _sum(pipe, "shuffle_write_mb")
    for k in ("rows_clean", "rows_error", "rows_dup"):
        m[f"plans.{k}"] = res.info.get(k, 0)
    construct, execute = _pick(tracer, "plans", "construct"), _pick(tracer, "plans", "execute")
    query = construct + execute
    m["plans.construct_s"] = _secs(tracer, construct)
    m["plans.construct_jobs"] = _sum(construct, "jobs")
    m["plans.execute_s"] = _secs(tracer, execute)
    m["plans.execute_jobs"] = _sum(execute, "jobs")
    m["plans.stages"] = _sum(query, "stages")
    m["plans.stage_busy_s"] = _sum(query, "stage_busy_s")
    m["plans.driver_gap_s"] = _secs(tracer, query) - m["plans.stage_busy_s"]
    for k in ("executor_run_s", "executor_cpu_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"plans.{k}"] = _sum(query, k)

    quarantine = _pick(tracer, "sinks", "quarantine:")
    load = _pick(tracer, "sinks", "load:")
    m["sinks.quarantine_s"] = _secs(tracer, quarantine)
    m["sinks.quarantine_jobs"] = _sum(quarantine, "jobs")
    m["sinks.load_s"] = _secs(tracer, load)
    m["sinks.load_jobs"] = _sum(load, "jobs")
    m["sinks.audit_s"] = _secs(tracer, _pick(tracer, "sinks", "audit:"))
    if "target" in res.info:
        files, size, qbytes = wl.output_files(res.info["target"])
        m["sinks.files_written"] = files
        m["sinks.output_mb"] = size / MB
        m["sinks.quarantine_mb"] = qbytes / MB
        m["sinks.bytes_per_input_byte"] = size / wl.inbox_bytes

    stores = _pick(tracer, "extensions")
    m["extensions.store_s"] = _secs(tracer, stores)
    m["extensions.store_jobs"] = _sum(stores, "jobs")
    m["extensions.store_input_mb"] = _sum(stores, "input_mb")
    m["extensions.store_shuffle_write_mb"] = _sum(stores, "shuffle_write_mb")
    m["extensions.store_cached_mb"] = res.info.get("cached_mb", 0.0)

    for k, v in res.info["streaming"].items():
        if f"streaming.{k}" in m:
            m[f"streaming.{k}"] = v
    return m


def per_layer(wl, tracer, res, warm_s: list[float]) -> dict:
    """name -> (value, unit) for the traced pass."""
    out = _pass_layers(wl, tracer, res)
    out["session.warmup_s"] = statistics.median(warm_s)
    out["trace.overhead_s"] = tracer.overhead_s
    return {k: (v, PER_LAYER[k]) for k, v in out.items()}


def detail(wl, res, setup_s: list[float]) -> dict:
    """The record for people: the workload's own end-to-end figures,
    with sample counts."""
    out = {
        "workload": wl.name,
        "pass_s": res.seconds,
        "setup_s": setup_s,
        "attempted": res.attempted,
        "failed": res.failed,
        "failed_frac": res.failed / res.attempted,
        "conf_changes": res.info["conf_changes"],
        "steal_s": res.info["steal_s"],
        "cpu_s": res.info["cpu_s"],
    }
    if "load" in res.parts:
        out["load_s"] = res.parts["load"]
        out["reload_s"] = res.parts["reload"]
        out["rows_per_s"] = wl.expected["rows"] / res.parts["load"]
    else:
        samples = res.info.get("query_s", [])
        out["query_samples"] = len(samples)
        out["query_p50_s"] = statistics.median(samples) if samples else None
        out["query_p90_s"] = tail(samples, 0.9)
    return out
