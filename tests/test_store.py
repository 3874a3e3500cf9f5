"""Signature store (extensions/store.py): reuse, key isolation, and
result equivalence of the store-backed query paths."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from train_reports_etl_spark.extensions import store


def test_shared_builds_once_and_reuses(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(5).withColumn("x", F.col("id") * 2)

    try:
        a = store.shared(spark, SF_SMOKE, "t_unit_probe", build)
        b = store.shared(spark, SF_SMOKE, "t_unit_probe", build)
        assert len(calls) == 1  # second call served from the store
        assert a is b
        assert a.count() == 5
    finally:
        store.clear()


def test_keys_isolate_params_and_dirs(spark):
    try:
        a = store.shared(spark, SF_SMOKE, "t_unit_k", lambda: spark.range(3), 1)
        b = store.shared(spark, SF_SMOKE, "t_unit_k", lambda: spark.range(4), 2)
        c = store.shared(spark, "/other/dir", "t_unit_k", lambda: spark.range(5), 1)
        assert a.count() == 3 and b.count() == 4 and c.count() == 5
    finally:
        store.clear()


def test_clear_allows_rebuild(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(2)

    try:
        store.shared(spark, SF_SMOKE, "t_unit_clear", build)
        store.clear()
        store.shared(spark, SF_SMOKE, "t_unit_clear", build)
        assert len(calls) == 2
    finally:
        store.clear()


class _StoppedFrame:
    """Stand-in for a DataFrame whose SparkContext was STOPPED: the
    probe chain answers isStopped()=True without raising (how a real
    stopped local-mode context behaves)."""

    class _SC:
        def isStopped(self):
            return True

    class _Jsc:
        def sc(self):
            return _StoppedFrame._SC()

    class _Ctx:
        _jsc = None

    class _Sess:
        pass

    @property
    def sparkSession(self):
        sess = _StoppedFrame._Sess()
        ctx = _StoppedFrame._Ctx()
        ctx._jsc = _StoppedFrame._Jsc()
        sess.sparkContext = ctx
        return sess

    def unpersist(self):
        pass


class _FlakyFrame:
    """Stand-in for a transient py4j failure: the probe RAISES. The
    fail-open rule must treat this as alive — deleting a live app's
    only frame handles would leak its persisted storage."""

    @property
    def sparkSession(self):
        raise RuntimeError("py4j hiccup")

    def unpersist(self):
        raise RuntimeError("py4j hiccup")


def test_dead_application_entries_evicted(spark):
    """Entries keyed to an ENDED (isStopped) Spark application are
    dropped on the next access; a still-running application's entries
    and a transiently-unprobeable application's entries survive."""
    try:
        store._CACHE["app-long-gone"] = {("d", "n"): _StoppedFrame()}
        store._CACHE["app-flaky-probe"] = {("d", "n"): _FlakyFrame()}
        store._CACHE["other-live-app"] = {("d", "n"): spark.range(1)}
        store.shared(spark, SF_SMOKE, "t_unit_evict", lambda: spark.range(2))
        assert "app-long-gone" not in store._CACHE
        assert "app-flaky-probe" in store._CACHE  # fail-open: kept
        assert "other-live-app" in store._CACHE  # alive → spared
        assert spark.sparkContext.applicationId in store._CACHE
    finally:
        store.clear()


def test_scoped_clear_spares_other_apps(spark):
    """clear(spark) must only drop the given application's entries."""
    try:
        store.shared(spark, SF_SMOKE, "t_unit_scoped", lambda: spark.range(2))
        store._CACHE["other-live-app"] = {("d", "n"): spark.range(1)}
        store.clear(spark)
        assert spark.sparkContext.applicationId not in store._CACHE
        assert "other-live-app" in store._CACHE
    finally:
        store.clear()


def test_concurrent_first_use_builds_converge(spark):
    """Racing first-use callers must converge on ONE persisted frame
    (the loser's copy is unpersisted, not leaked)."""
    import threading

    import time

    results = []

    def racer():
        def build():
            time.sleep(0.2)  # widen the double-build window
            return spark.range(7)

        results.append(store.shared(spark, SF_SMOKE, "t_unit_race", build))

    threads = [threading.Thread(target=racer) for _ in range(4)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert len(results) == 4
        assert all(r is results[0] for r in results)
        assert results[0].count() == 7
    finally:
        store.clear()


def test_store_backed_paths_match_direct_compute(spark):
    """The store-backed winnow/simhash query paths must return exactly
    what the direct (uncached) library functions return."""
    from train_reports_etl_spark.extensions.ext_queries import (
        _shared_simhash_table,
        _shared_winnow_fps,
    )
    from train_reports_etl_spark.extensions.text import (
        simhash_table,
        winnowed_fingerprints,
    )
    from train_reports_etl_spark.sources.registry import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    try:
        cached = _shared_winnow_fps(spark, SF_SMOKE)
        direct = winnowed_fingerprints(docs)
        assert cached.exceptAll(direct).count() == 0
        assert direct.exceptAll(cached).count() == 0

        cached_sh = _shared_simhash_table(spark, SF_SMOKE)
        direct_sh = simhash_table(docs)
        assert cached_sh.exceptAll(direct_sh).count() == 0
        assert direct_sh.exceptAll(cached_sh).count() == 0
    finally:
        store.clear()


def test_prebuild_rows_are_exactly_the_built_stores(spark, monkeypatch):
    """Every ``store:<name>`` row that ``prebuild_shared_stores`` times
    must be a store ``shared`` actually keys, and every store it keys
    must get a row: a row naming a projection of another store (the
    16-bit SimHash is ``simhash60 >> 44``) would time a cache read as
    if it were a build."""
    from train_reports_etl_spark.extensions.ext_queries import prebuild_shared_stores

    called = set()
    real_shared = store.shared

    def recording_shared(spark_, sf_dir, name, build, *params):
        called.add(name)
        return real_shared(spark_, sf_dir, name, build, *params)

    monkeypatch.setattr(store, "shared", recording_shared)
    try:
        timings = prebuild_shared_stores(spark, SF_SMOKE)
    finally:
        store.clear()
    assert set(timings) == called
    assert "simhash16" not in timings and len(timings) == 10
    assert all(secs >= 0 for secs in timings.values()), timings


def test_incremental_lsh_signature_split_matches_internal(spark):
    """Passing pre-split signature-store frames into the incremental
    MinHash pipeline must reproduce the internally-computed result."""
    from train_reports_etl_spark.extensions.dedup import (
        incremental_minhash_near_duplicates,
        minhash_signatures,
    )
    from train_reports_etl_spark.sources.registry import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    internal = incremental_minhash_near_duplicates(
        new, corpus, threshold=0.5, portable=True
    )
    sigs = minhash_signatures(docs, portable=True).persist()
    try:
        external = incremental_minhash_near_duplicates(
            new,
            corpus,
            threshold=0.5,
            portable=True,
            new_signatures=sigs.filter(F.col("id") % 10 == 0),
            corpus_signatures=sigs.filter(F.col("id") % 10 != 0),
        )
        assert internal.exceptAll(external).count() == 0
        assert external.exceptAll(internal).count() == 0
    finally:
        sigs.unpersist()
