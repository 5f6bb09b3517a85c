"""Span arithmetic and the event-log fold on a two-job run."""

import os

from spans import Span, Tracer, fold_event_log, read_events, union_length


def test_union_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    t = Tracer()
    t.spans = [Span("transform", 0.0, 10.0), Span("a", 1.0, 4.0, "transform"),
               Span("b", 3.0, 5.0, "transform")]
    assert t.self_time("transform") == 6.0


def test_fold_on_a_two_job_run(tmp_path):
    from fitness_nutrition_data_pipeline_spark.session import get_spark
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    log_dir = str(tmp_path / "eventlog")
    os.makedirs(log_dir)
    spark = get_spark("perfbench-test", master="local[2]", extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    })
    tracker = spark.sparkContext.statusTracker()
    tracer = Tracer()
    try:
        for name in ("first", "second"):
            spark.sparkContext.setJobGroup(name, name)
            with tracer.span(name):
                spark.range(0, 1000, numPartitions=3).selectExpr("sum(id)").collect()
        jobs = {n: len(tracker.getJobIdsForGroup(n)) for n in ("first", "second")}
    finally:
        spark.stop()
    folded = fold_event_log(read_events(log_dir), tracer.spans, cores=2)
    # each span holds exactly the jobs of its job group
    assert {n: folded[n]["jobs"] for n in jobs} == jobs
    assert all(v >= 1 for v in jobs.values())
    for n in jobs:
        c = folded[n]
        assert c["tasks"] >= 3 and c["executor_run_ms"] >= 0
        assert 0 <= c["driver_only_s"] <= tracer.total(n)
