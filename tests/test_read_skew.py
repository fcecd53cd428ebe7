"""A read sees exactly the version it resolved, even when a writer
commits between planning and reading.

The table holds 100 rows; each case deletes 10 of them with a deletion
vector, then a ``compact()`` lands in the middle of the read (injected
at the data-file read, after the read resolved its version). The
compaction folds the DV into new files, so a reader that looked up
"latest" again for its DVs would read the old files without any live
DV and bring the deleted rows back."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable


@pytest.fixture(scope="module")
def table(spark, tmp_path_factory):
    t = LakehouseTable(spark, str(tmp_path_factory.mktemp("skew") / "t"))
    t.append(spark.range(100).select(F.col("id").alias("k")), stats_cols=["k"])
    return t


READS = {
    "snapshot": lambda t: t.snapshot(),
    "scan_pruned": lambda t: t.scan_pruned("k", 0, 99)[0],
}


@pytest.mark.parametrize("read", list(READS))
def test_compaction_mid_read_keeps_the_pinned_version(table, read, monkeypatch):
    lo = 10 * list(READS).index(read)
    table.delete_where_dv(f"k >= {lo} AND k < {lo + 10}")
    live = sorted(r["k"] for r in table.snapshot().collect())
    assert len(live) == 90 - lo

    real = LakehouseTable._read_data
    landed = []

    def compact_then_read(self, *args, **kwargs):
        if not landed:
            landed.append(True)
            LakehouseTable(self.spark, str(self.path)).compact()
        return real(self, *args, **kwargs)

    monkeypatch.setattr(LakehouseTable, "_read_data", compact_then_read)
    got = sorted(r["k"] for r in READS[read](table).collect())
    monkeypatch.undo()
    assert landed, "the compaction did not land mid-read"
    assert got == live
