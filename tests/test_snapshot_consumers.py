"""Every operation that builds a file set or counts rows from the log
sees the same live set a snapshot reads.

One table: an append, a DV delete folded away by a full compaction
(so a DV stays in history but none is live), two more appends, then a
partial rewrite (``compact_files``) of two files. A ``data_change=False``
rewrite with ``removed_files`` moves rows 1:1, so its row count must
not be added to the rows of the files it replaced, and its removed
files are not live."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable, optimize_advisor


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    t = LakehouseTable(spark, str(tmp_path_factory.mktemp("consumers") / "t"))

    def rows(lo):
        return spark.range(lo, lo + 10).select(F.col("id").alias("k")).repartition(4)

    t.append(rows(0))
    t.delete_where_dv("k = 0")
    t.compact(target_partitions=2)
    t.append(rows(10))
    t.append(rows(20))
    t.compact_files(t.history()[-1].files[-2:])
    return t


def _restored_count(t):
    t.restore(t.latest_version())
    return t.snapshot().count()


CONSUMERS = {
    "total_rows_committed": lambda t: t.total_rows_committed(),
    "advisor_live_rows": lambda t: optimize_advisor(t)["live_rows"],
    "advisor_live_files": lambda t: optimize_advisor(t)["n_live_files"],
    "advisor_dv_fraction": lambda t: optimize_advisor(t)["dv_shadowed_fraction"],
    # last: it publishes a restate (same rows) on the shared table
    "restore_head": _restored_count,
}


@pytest.mark.parametrize("consumer", list(CONSUMERS))
def test_consumer_agrees_with_snapshot(table, consumer):
    snap = table.snapshot()
    want = {
        "advisor_live_files": len(snap.inputFiles()),
        "advisor_dv_fraction": 0.0,  # the only DV was folded away
    }.get(consumer, 29)
    assert snap.count() == 29
    assert CONSUMERS[consumer](table) == want
