"""Benchmark entry point: one workload, one client, closed loop.

    python3 perfbench/run.py --workload report_etl|analytics \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Set-up starts a Spark session on
``local[<cpus>]``, generates the workload's inputs from ``--seed`` and
warms the JVM and the Python workers; it is done three times and
``setup_s`` is the median, with steal taken out as below. Then one
pass of the workload runs: a fixed list of operations, each starting
only when the previous one has finished, in a JVM that has run no
workload code yet. ``--seconds`` is the run length the pass is sized
to (20 to 25 s on a 4-core host). A run always times exactly one pass:
after it the JIT compiler keeps compiling for several more passes, so
the time of a second pass depends on how far that has got. Outputs are
checked after the pass, outside the timed region.

The pass's time, ``run_unstolen_s``, is its wall time less the share
of it in which the host's hypervisor held this machine's CPUs (steal,
see :func:`unstolen_s`). On a shared host steal comes and goes with
other tenants' load and moved the plain wall time of the same pass
from 20 to 37 s between runs on a 4-core host. Busy neighbours also
make the CPUs slower while they run, which steal does not show, so
the pass's CPU time, and with it ``run_unstolen_s``, still rose by up
to a quarter in the busiest runs. The plain wall times (``pass_s``,
``setup_s``) and the CPU time of the pass are in the detail record.

With ``--trace 0`` no span statistic is read while the pass runs and
the last line of standard output holds the end-to-end metrics. With
``--trace 1`` the pass is traced: the last line holds the per-layer
metrics and ``trace.overhead_s``, the time the pass spent in span
bookkeeping, and the spans are written to ``.perfbench_out/``. The
line before the last one is a detail record for people: per-part
times, percentiles with their sample counts, failures, changed session
settings, peak memory and the CPU time the host's hypervisor took
(steal) during the pass.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
from spans import StreamProgress, Tracer, spans_around, stream_stats  # noqa: E402
from train_reports_etl_spark.sources import registry as table_registry  # noqa: E402
from workloads import WORKLOADS, drop_caches  # noqa: E402

SETUPS = 3
DRIVER_MEMORY = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str):
    from pyspark.sql import SparkSession

    from train_reports_etl_spark.session import configure

    builder = configure(
        SparkSession.builder.master(f"local[{cpus()}]").appName("perfbench")
    )
    spark = (
        builder.config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work}/tmp")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One shuffle job in the JVM and one job on every Python worker."""
    n = cpus()
    spark.range(0, 100_000, numPartitions=n).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    spark.range(0, 1000, numPartitions=n).mapInPandas(lambda it: it, "id long").count()


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this process and of the JVM, in MiB."""
    out = {"driver_python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                out["jvm"] = int(line.split()[1]) / 1024
    return out


def cpu_steal_s() -> float:
    """Steal time since boot: CPU time the hypervisor gave to other
    guests while this system's CPUs had work to run."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def cpu_s(jvm_pid: int | None) -> float:
    """CPU time used so far by this process, the JVM and every process
    the JVM started (the Python workers), user plus system, with the
    time of children that have exited and been waited for."""
    tick = os.sysconf("SC_CLK_TCK")
    me = resource.getrusage(resource.RUSAGE_SELF)
    total = me.ru_utime + me.ru_stime
    if jvm_pid is None:
        return total
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while the table was read
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(f) for f in fields[11:15])
    todo = [jvm_pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0) / tick
        todo += children.get(pid, [])
    return total


def jvm_pid() -> int | None:
    """The JVM's process id, once a session has started it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return gateway.proc.pid if gateway is not None else None


def unstolen_s(seconds: float, cpu: float, steal: float) -> float:
    """``seconds`` of wall time less the share of it the hypervisor
    held the CPUs: the work ran for ``cpu`` seconds and was ready to
    run ``steal`` seconds more, so ``cpu / (cpu + steal)`` of it is
    kept."""
    return seconds * cpu / (cpu + steal) if steal > 0 else seconds


class Clock:
    """Wall time, CPU time (:func:`cpu_s`) and steal over a block."""

    def __enter__(self):
        self._cpu0, self._steal0 = cpu_s(jvm_pid()), cpu_steal_s()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self._t0
        self.cpu = cpu_s(jvm_pid()) - self._cpu0
        self.steal = cpu_steal_s() - self._steal0


def conf_changes(before: dict, after: dict) -> list[str]:
    return sorted(k for k in set(before) | set(after) if before.get(k) != after.get(k))


def one_pass(spark, wl, traced: bool, run_id: str):
    """Drop every cache, then run one timed pass."""
    drop_caches(spark)
    conf0 = dict(spark.conf.getAll)
    tracer = Tracer(spark, run_id, traced)
    progress = None
    if traced:
        progress = StreamProgress()
        spark.streams.addListener(progress)
    first = tracer.reader.jobs_submitted()
    wrap = (
        spans_around(tracer, table_registry.load_table, "sources", "train_reports_etl_spark")
        if traced
        else nullcontext()
    )
    with wrap, Clock() as clock:
        res = wl.run_pass(spark, tracer)
    res.info["steal_s"], res.info["cpu_s"] = clock.steal, clock.cpu
    if traced:
        res.info["streaming"] = stream_stats(
            tracer.reader, progress, first, tracer.reader.jobs_submitted()
        )
        spark.streams.removeListener(progress)
    res.info["conf_changes"] = conf_changes(conf0, dict(spark.conf.getAll))
    return tracer, res


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # Python workers import the engine from the checkout; every
    # temporary file stays inside it.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    spark = None
    try:
        setups, warm_s = [], []
        for i in range(SETUPS):
            with Clock() as clock:
                if spark is not None:
                    spark.stop()
                spark = start_session(work)
                wl = WORKLOADS[args.workload]()
                wl.generate(os.path.join(work, f"setup{i}"), args.seed)
                t1 = time.perf_counter()
                warm_up(spark)
                warm_s.append(time.perf_counter() - t1)
            setups.append(clock)
        setup_s = [c.wall for c in setups]

        tracer, res = one_pass(spark, wl, bool(args.trace), f"{args.workload}-{args.seed}")
        t_check = time.perf_counter()
        problems = wl.check(spark, res)
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)

        detail = layers.detail(wl, res, setup_s)
        detail["check_s"] = time.perf_counter() - t_check
        detail["peak_rss_mb"] = peak_rss_mb(spark)
        if args.trace:
            metrics = layers.per_layer(wl, tracer, res, warm_s)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"trace_{args.workload}_{args.seed}.json"))
        else:
            metrics = {
                "setup_s": (statistics.median(unstolen_s(c.wall, c.cpu, c.steal) for c in setups), "s"),
                "run_unstolen_s": (unstolen_s(res.seconds, res.info["cpu_s"], res.info["steal_s"]), "s"),
            }
        result = {
            "correct": not problems,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


if __name__ == "__main__":
    raise SystemExit(main())
