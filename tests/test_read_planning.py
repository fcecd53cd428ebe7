"""Reads plan from the log alone, and a partial compaction keeps the
file-skipping stats its inputs had.

One table: three appends with zone maps and bloom filters on ``k``,
then ``compact_files`` of all three files into one."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    t = LakehouseTable(spark, str(tmp_path_factory.mktemp("planning") / "t"))
    for lo in (0, 100, 200):
        t.append(
            spark.range(lo, lo + 50).select(F.col("id").alias("k")).coalesce(1),
            stats_cols=["k"],
            bloom_cols=["k"],
        )
    t.compact_files([f for c in t.history() for f in c.files])
    return t


def test_compact_files_keeps_bloom_filters(table):
    (compacted,) = table.history()[-1].files
    assert "__bloom__:k" in table.history()[-1].stats[compacted]
    df, scanned, total = table.scan_point("k", 77)  # in the key range, absent
    assert (scanned, total) == (0, 1)
    assert df.count() == 0
    df, scanned, _ = table.scan_point("k", 120)
    assert scanned == 1 and df.count() == 1


PLANS = {
    "snapshot": lambda t: t.snapshot(),
    "scan_pruned": lambda t: t.scan_pruned("k", 10, 20)[0],
    "read_changes": lambda t: t.read_changes(0),
}


@pytest.mark.parametrize("plan", list(PLANS))
def test_planning_starts_no_spark_job(spark, table, plan):
    """Every live commit records its schema, so planning a read needs
    no footer-inference job."""
    sc = spark.sparkContext
    group = f"plan-{plan}"
    sc.setJobGroup(group, plan)
    try:
        PLANS[plan](table)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_planning_above_the_listing_threshold_starts_no_spark_job(spark, tmp_path):
    """Above 32 paths Spark would list the files with a distributed
    job; the log already lists them, so planning starts none, and the
    session's threshold is left as it was."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    t = LakehouseTable(spark, str(tmp_path / "wide"))
    t.append(spark.range(0, 33, 1, 33).select(F.col("id").alias("k")))  # 33 one-row files
    assert len(t.history()[-1].files) == 33
    before = spark.conf.get(key, None)
    sc = spark.sparkContext
    sc.setJobGroup("plan-wide", "plan-wide")
    try:
        df = t.snapshot()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("plan-wide")) == []
    assert spark.conf.get(key, None) == before
    assert df.count() == 33
