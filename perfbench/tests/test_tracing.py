from __future__ import annotations

import os
import time

from perfbench.tracing import JobLedger, Tracer, driver_gap_s, tree_usage


def test_jobs_land_in_the_span_that_ran_them(spark):
    tracer = Tracer("t", JobLedger(spark))
    df = spark.range(10_000).selectExpr("id % 7 AS k").groupBy("k").count()
    with tracer.span("outer") as outer:
        df.collect()
        with tracer.span("inner") as inner:
            spark.range(100).count()
        spark.range(5).collect()
    assert inner.spark.jobs >= 1 and inner.spark.tasks >= 1
    assert outer.spark.jobs >= 2
    assert outer.spark.shuffle_write_mb > 0 and outer.spark.shuffle_read_mb > 0
    assert outer.spark.task_s > 0 and outer.spark.stages >= 1
    assert outer.spark.failed_tasks == 0
    total = tracer.total(outer)
    assert total.jobs == outer.spark.jobs + inner.spark.jobs
    assert 0 < tracer.self_s(outer) < outer.wall_s
    # the enclosing group is restored after the inner span, and cleared after
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_untraced_span_runs_no_collection():
    tracer = Tracer("t")
    with tracer.span("a") as a:
        time.sleep(0.01)
    assert a.wall_s >= 0.01 and a.spark.jobs == 0


def test_driver_gap_counts_time_without_jobs():
    offset = 100.0
    jobs = [(101.0, 102.0), (101.5, 103.0), (105.0, 106.0)]
    assert driver_gap_s(0.0, 10.0, jobs, offset) == 10.0 - 3.0  # busy [1, 3] and [5, 6]


def test_tree_usage_sees_this_process():
    cpu, rss = tree_usage(os.getpid())
    assert cpu > 0 and rss > 0
