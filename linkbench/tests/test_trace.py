"""Span arithmetic, job-group switching, and the event-log reader."""

from __future__ import annotations

import pytest

from linkbench.trace import (
    GROUP_PREFIX,
    Span,
    Tracer,
    group_job_stats,
    read_event_log,
    root_self_time,
    self_times,
)


def test_self_time_is_parent_minus_children():
    spans = [
        Span("pairs", 0.0, 10.0, None),
        Span("oversized_blocks", 2.0, 5.0, 0),
        Span("scratch", 4.0, 7.0, 0),  # overlaps its sibling: counted once
        Span("clusters", 11.0, 14.0, None),
    ]
    st = self_times(spans)
    assert st["pairs"] == pytest.approx(10.0 - 5.0)
    assert st["oversized_blocks"] == pytest.approx(3.0)
    assert st["scratch"] == pytest.approx(3.0)
    assert st["clusters"] == pytest.approx(3.0)
    # only top-level spans count against the run's wall
    assert root_self_time(-1.0, 15.0, spans) == pytest.approx(16.0 - 13.0)


def test_self_times_sum_over_spans_of_one_name():
    spans = [Span("metrics", 0.0, 1.0, None), Span("metrics", 2.0, 2.5, None)]
    assert self_times(spans) == {"metrics": pytest.approx(1.5)}


class _FakeContext:
    def __init__(self):
        self.group = None

    def setJobGroup(self, group, description):
        self.group = group

    def setLocalProperty(self, key, value):
        if key == "spark.jobGroup.id":
            self.group = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_nests_spans_and_restores_job_groups():
    spark = _FakeSpark()
    sc = spark.sparkContext
    tracer = Tracer(spark, "linkage")
    with tracer.run():
        assert sc.group == GROUP_PREFIX + "linkage"
        with tracer.span("pairs"):
            assert sc.group == GROUP_PREFIX + "pairs"
            with tracer.span("oversized_blocks"):
                assert sc.group == GROUP_PREFIX + "oversized_blocks"
            # get_or_compute's own write of the same stage: no new span
            with tracer.span("pairs"):
                assert sc.group == GROUP_PREFIX + "pairs"
            assert sc.group == GROUP_PREFIX + "pairs"
        assert sc.group == GROUP_PREFIX + "linkage"
    assert sc.group is None
    assert [(s.name, s.parent) for s in tracer.spans] == [
        ("pairs", None),
        ("oversized_blocks", 0),
    ]
    assert all(s.end >= s.start for s in tracer.spans)
    assert tracer.groups() == ["linkage", "oversized_blocks", "pairs"]


def test_event_log_sums_per_group_match_status_tracker(tmp_path):
    """A tiny run with the event log on: per job group, the event log's
    job count equals the status tracker's, and the task metrics land in
    the group whose jobs did the work."""
    from pyspark.sql import functions as F

    from biomedical_el_spark.session import get_spark

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_spark(
        "linkbench-test",
        cores=2,
        shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + str(log_dir),
        },
    )
    try:
        tracer = Tracer(spark, "root")
        with tracer.run():
            with tracer.span("scan"):
                spark.range(10_000).selectExpr("sum(id)").collect()
            with tracer.span("shuffle"):
                (
                    spark.range(20_000, numPartitions=4)
                    .groupBy((F.col("id") % 97).alias("k"))
                    .count()
                    .collect()
                )
            spark.range(100).count()  # outside every span: the root group
        tracked = {g: group_job_stats(spark, g) for g in tracer.groups()}
    finally:
        spark.stop()
    events = read_event_log(str(log_dir))
    for group, stats in tracked.items():
        assert stats["spark_jobs"] >= 1
        assert events[group]["spark_jobs"] == stats["spark_jobs"], group
        assert stats["failed_tasks"] == 0
        assert stats["tasks"] >= 1
    assert events["shuffle"]["shuffle_write_mb"] > 0
    assert events["shuffle"]["shuffle_read_mb"] > 0
    assert events["shuffle"]["executor_run_s"] > 0
