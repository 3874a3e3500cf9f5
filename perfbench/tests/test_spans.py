from __future__ import annotations

import pytest
from conftest import RETAINED_JOBS

from spans import JobsEvictedError, Span, Tracer, self_seconds, union_seconds


def _span(i, start, end, parent=None):
    return Span(span_id=i, name=f"s{i}", layer="x", run_id="r", parent=parent, start=start, end=end)


def test_union_of_overlapping_intervals():
    assert union_seconds([]) == 0
    assert union_seconds([(0, 1), (2, 3)]) == 2
    assert union_seconds([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_seconds([(0, 10), (2, 3), (4, 5)]) == 10


def test_self_time_subtracts_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 4.0, 0), _span(3, 6.0, 7.0, 0)]
    # children cover [1, 4] and [6, 7]: 4 of the parent's 10 seconds
    assert self_seconds(parent, kids) == pytest.approx(6.0)


def test_self_time_clips_children_to_the_parent():
    parent = _span(0, 5.0, 10.0)
    kids = [_span(1, 3.0, 6.0, 0), _span(2, 9.0, 12.0, 0), _span(3, 11.0, 13.0, 0)]
    assert self_seconds(parent, kids) == pytest.approx(3.0)
    assert self_seconds(parent, []) == pytest.approx(5.0)


def _jobs(spark, n):
    """``n`` jobs of one stage and one task each, all inside the JVM."""
    rdd = spark._jsparkSession.range(0, 1, 1, 1).javaRDD()
    for _ in range(n):
        rdd.count()


def test_counts_stay_exact_past_the_retained_job_history(spark):
    tracer = Tracer(spark, "many", enabled=True)
    spans = []
    for i in range(21):
        with tracer.span(f"batch{i}", "test") as outer:
            _jobs(spark, 30)
            with tracer.span("inner", "test"):
                _jobs(spark, 20)
        spans.append(outer)
    assert tracer.reader.jobs_submitted() >= 1050 > 10 * RETAINED_JOBS
    for sp in spans:
        assert sp.stats["jobs"] == 30
        assert sp.stats["stages"] == 30
        assert sp.stats["tasks"] == 30
        (inner,) = tracer.children(sp)
        assert inner.stats["jobs"] == 20
    assert all(v >= 0 for sp in tracer.spans for v in sp.stats.values())


def test_a_span_longer_than_the_history_fails_by_name(spark):
    tracer = Tracer(spark, "evicted", enabled=True)
    with pytest.raises(JobsEvictedError):
        with tracer.span("too_long", "test"):
            _jobs(spark, RETAINED_JOBS + 60)


def test_groups_are_restored_after_a_span(spark):
    tracer = Tracer(spark, "groups", enabled=False)
    sc = spark.sparkContext
    with tracer.span("outer", "test") as outer:
        with tracer.span("inner", "test") as inner:
            assert sc.getLocalProperty("spark.jobGroup.id") == inner.group
        assert sc.getLocalProperty("spark.jobGroup.id") == outer.group
        _jobs(spark, 2)
    assert sc.getLocalProperty("spark.jobGroup.id") is None
    assert tracer.jobs_of(outer) == 2
    assert tracer.jobs_of(inner) == 0
