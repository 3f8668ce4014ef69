"""Tests of the metric harvester: rendered-value parsing, and known row
counts read back from a tiny local job through the status store.

    python3 -m pytest jobbench/test_harvest.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobbench.harvest import Harvester, Metric, parse_metric, parse_value  # noqa: E402


@pytest.mark.parametrize(
    "text, value",
    [
        ("100,000", 100000.0),
        ("0", 0.0),
        ("64.2 MiB", 64.2 * 2**20),
        ("921.0 B", 921.0),
        ("12 ms", 0.012),
        ("1.1 s", 1.1),
        ("2.0 m", 120.0),
    ],
)
def test_parse_value(text, value):
    assert parse_value(text) == pytest.approx(value)


def test_parse_metric_forms():
    task = "total (min, med, max (stageId: taskId))\n1.1 s (267 ms, 268 ms, 270 ms (stage 0.0: task 2))"
    assert parse_metric(task) == Metric(1.1, 0.267, 0.268, 0.27)
    driver = "total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (driver))"
    assert parse_metric(driver) == Metric(3.0 * 2**20, 2**20, 2**20, 2**20)
    average = "(min, med, max (stageId: taskId)):\n(1, 2, 5 (stage 77.0: task 180))"
    assert parse_metric(average) == Metric(2.0, 1.0, 2.0, 5.0)
    assert parse_metric("1,234") == Metric(1234.0)
    with pytest.raises(ValueError):
        parse_metric("not a metric")


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("harvest_test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("local")))
        .getOrCreate()
    )
    yield s
    s.stop()


def _run(spark, group, action):
    spark.sparkContext.setJobGroup(group, group)
    try:
        action()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    harv = Harvester(spark)
    harv.settle()
    jobs = {int(j) for j in spark.sparkContext.statusTracker().getJobIdsForGroup(group)}
    return harv, jobs, [harv.execution(i) for i in harv.execution_ids(jobs)]


def test_known_row_counts(spark):
    from pyspark.sql import functions as F

    df = spark.range(1000).where(F.col("id") % 10 == 0).groupBy((F.col("id") % 3).alias("k")).count()
    harv, jobs, execs = _run(spark, "counts", df.collect)
    assert len(execs) == 1
    (e,) = execs
    (rng,) = e.find("Range")
    assert rng.metrics["number of output rows"].total == 1000
    (flt,) = e.find("Filter")
    assert flt.metrics["number of output rows"].total == 100
    (exch,) = [n for n in e.find("Exchange") if n.name == "Exchange"]
    assert exch.metrics["shuffle records written"].total > 0
    final = max(e.find("HashAggregate"), key=lambda n: n.id)
    assert final.metrics["number of output rows"].total in (3.0, 6.0)  # final (and partial) agg
    assert e.input_rows(exch) > 0
    assert e.end_ms is not None and e.end_ms >= e.start_ms
    totals = harv.stage_totals(jobs)
    assert totals["tasks"] >= 2 and totals["shuffle_write_bytes"] > 0


def test_cached_plan_and_write(spark, tmp_path):
    from pyspark.sql import functions as F

    cached = spark.range(500).where(F.col("id") < 200).cache()
    out = str(tmp_path / "out")
    start_ms = int(spark.sparkContext._jvm.System.currentTimeMillis())

    def action():
        cached.count()
        cached.where(F.col("id") % 2 == 0).write.parquet(out)

    harv, _, execs = _run(spark, "cached", action)
    # the cache's first materialization reports rows through the
    # InMemoryTableScan's child, the cached plan
    scans = [n for e in execs for n in e.find("InMemoryTableScan")]
    assert scans and max(n.metrics["number of output rows"].total for n in scans) == 200
    writes = [n for e in execs for n in e.find("Execute InsertIntoHadoopFsRelationCommand")]
    assert [n.metrics["number of output rows"].total for n in writes] == [100]
    assert harv.first_commit_ms(out, start_ms) is not None
    assert harv.first_commit_ms(out + "_elsewhere", start_ms) is None
