"""The streaming DataSource readers yield Arrow RecordBatches (r5
VERDICT task #6) — called directly, the way Spark's Python worker
does, so the assertion is on the actual wire format, not just on
end-to-end row values. Also pins the CDF reader's range-bounded log
parse (per-batch planning cost follows the batch, not the log size)."""
from __future__ import annotations

import pyarrow as pa
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable


def _table(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "t"))
    t.append(
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
    )
    t.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"),
            (F.col("id") * 2.0).alias("v"),
            F.lit("x").alias("note"),  # additive evolution
        )
    )
    return t


def test_lakehouse_stream_reader_yields_recordbatches(spark, tmp_path):
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        LakehouseStreamReader,
    )

    t = _table(spark, tmp_path)
    r = LakehouseStreamReader(
        {"path": str(t.path)},
        ["k", "v", "note"],
        {"k": "bigint", "v": "double", "note": "string"},
    )
    parts = r.partitions(r.initialOffset(), r.latestOffset())
    rows = 0
    for p in parts:
        out = list(r.read(p))
        assert all(isinstance(b, pa.RecordBatch) for b in out)
        for b in out:
            assert b.schema.names == ["k", "v", "note"]
            rows += b.num_rows
    assert rows == 8
    # the pre-evolution file null-fills `note` with the TYPED column
    first = next(
        b for p in parts for b in r.read(p) if b.num_rows and b.column(2).null_count
    )
    assert first.column(2).type == pa.string()


def test_txn_app_id_scopes_replay_dedup(spark, tmp_path):
    """Two streaming queries writing to ONE table with distinct
    txnAppIds keep independent batch-id high-waters (Delta's txn
    contract): job B's batch 0 commits even after job A passed batch
    0; a REPLAY of job A's batch 0 is still discarded."""
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        LakehouseStreamWriter,
    )

    t = _table(spark, tmp_path)
    schema = (
        spark.range(1)
        .select(F.col("id").alias("k"), F.lit(0.0).alias("v"), F.lit("x").alias("note"))
        .schema
    )

    def batch(vals):
        return pa.record_batch(
            [
                pa.array(vals, pa.int64()),
                pa.array([float(v) for v in vals], pa.float64()),
                pa.array(["x"] * len(vals), pa.string()),
            ],
            names=["k", "v", "note"],
        )

    wa = LakehouseStreamWriter({"path": str(t.path), "txnAppId": "jobA"}, False, schema)
    wb = LakehouseStreamWriter({"path": str(t.path), "txnAppId": "jobB"}, False, schema)
    wa.commit([wa.write(iter([batch([100])]))], 0)
    base = t.snapshot().count()
    # different app, same batch id: MUST commit
    wb.commit([wb.write(iter([batch([200])]))], 0)
    assert t.snapshot().count() == base + 1
    # replay of jobA's batch 0: discarded
    wa.commit([wa.write(iter([batch([300])]))], 0)
    assert t.snapshot().count() == base + 1
    # jobA advances normally
    wa.commit([wa.write(iter([batch([101])]))], 1)
    assert t.snapshot().count() == base + 2
    ops = [c.operation for c in t.history()]
    assert "jobA-b0" in ops and "jobB-b0" in ops and "jobA-b1" in ops


def test_cdf_logical_names_option(spark, tmp_path):
    """logicalNames=true replays the change feed under the CURRENT
    logical schema: pre-rename vintages surface the renamed column,
    exactly the native read_changes_cdf surface."""
    import shutil
    import tempfile

    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "cdfl"))
    t.append(spark.range(3).select(F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")))
    t.rename_column("v", "v_usd")
    t.append(
        spark.range(3, 5).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v_usd")
        )
    )
    ck = tempfile.mkdtemp(prefix="cdfl_ck_")
    try:
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("logicalNames", "true")
            .load()
            .writeStream.format("memory")
            .queryName("cdfl_sink")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    got = spark.sql("SELECT * FROM cdfl_sink")
    assert "v_usd" in got.columns and "v" not in got.columns
    rows = got.collect()
    assert len(rows) == 5
    # BOTH vintages (pre- and post-rename files) carry real values
    assert all(r["v_usd"] is not None for r in rows)
    assert {r["_commit_version"] for r in rows} == {0, 1}


def test_delta_export_carries_stream_txn(spark, tmp_path):
    """Streaming micro-batch commits export as Delta SetTransaction
    actions, retained through checkpoints — an external Delta writer
    resuming the same appId reads its idempotence high-water from the
    exported log."""
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        replay_txn_high,
    )
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        LakehouseStreamWriter,
    )

    t = _table(spark, tmp_path)  # two plain appends (no txn)
    schema = (
        spark.range(1)
        .select(F.col("id").alias("k"), F.lit(0.0).alias("v"), F.lit("x").alias("note"))
        .schema
    )
    w = LakehouseStreamWriter({"path": str(t.path), "txnAppId": "ing"}, False, schema)
    for b in range(3):
        msg = w.write(
            iter(
                [
                    pa.record_batch(
                        [
                            pa.array([50 + b], pa.int64()),
                            pa.array([0.5], pa.float64()),
                            pa.array(["s"], pa.string()),
                        ],
                        names=["k", "v", "note"],
                    )
                ]
            )
        )
        w.commit([msg], b)
    export_delta_log(spark, t)
    assert replay_txn_high(str(t.path), "ing") == 2
    assert replay_txn_high(str(t.path), "other") == -1
    # checkpoint retention: force a checkpoint-bearing export by
    # growing the history past the export's checkpoint cadence
    for b in range(3, 12):
        msg = w.write(
            iter(
                [
                    pa.record_batch(
                        [
                            pa.array([50 + b], pa.int64()),
                            pa.array([0.5], pa.float64()),
                            pa.array(["s"], pa.string()),
                        ],
                        names=["k", "v", "note"],
                    )
                ]
            )
        )
        w.commit([msg], b)
    export_delta_log(spark, t)
    lc = t.path / "_delta_log" / "_last_checkpoint"
    assert lc.exists()
    assert replay_txn_high(str(t.path), "ing") == 11


def test_datasource_bloom_write_and_point_prune(spark, tmp_path):
    """`.option("blooms", "k")` builds per-file bloom filters
    EXECUTOR-side during the Arrow write; the commit-log descriptors
    are byte-compatible with the native path — scan_point skips on
    them, and the SQL DataSource's pushFilters prunes point lookups
    by MEMBERSHIP, not just [min,max]."""
    from pyspark.sql.datasource import EqualTo

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        LakehouseSnapshotReader,
        _SnapshotState,
        register,
    )

    register(spark)
    path = str(tmp_path / "bl")
    # interleaved keys: every file's [min,max] OVERLAPS every probe —
    # zone maps alone cannot skip; only membership can
    for b in range(4):
        spark.range(200).select(
            (F.col("id") * 4 + b).alias("k"), F.lit(b).alias("src")
        ).coalesce(1).write.format("lakehouse").option("path", path).option(
            "blooms", "k"
        ).mode("append").save()
    t = LakehouseTable(spark, path)
    df, kept, total = t.scan_point("k", 5)  # 5 = 1*4+1 → only file b=1
    assert total == 4 and kept == 1
    assert df.count() == 1 and df.collect()[0]["src"] == 1
    # SQL path: EqualTo prunes through the same blooms
    reader = LakehouseSnapshotReader(_SnapshotState({"path": path}))
    list(reader.pushFilters([EqualTo(("k",), 5)]))
    parts = reader.partitions()
    assert len(parts) == 1
    got = (
        spark.read.format("lakehouse")
        .option("path", path)
        .load()
        .where(F.col("k") == 5)
        .collect()
    )
    assert len(got) == 1 and got[0]["src"] == 1


def test_cdf_stream_reader_yields_recordbatches_and_range_parse(spark, tmp_path):
    from lakehouse_test_spark.sources.cdf_datasource import (
        LakehouseCDFStreamReader,
    )

    t = _table(spark, tmp_path)
    r = LakehouseCDFStreamReader(
        {"path": str(t.path)},
        ["k", "v", "note"],
        {"k": "bigint", "v": "double", "note": "string"},
    )
    # range-bounded log parse: only the requested window is read
    assert [c.version for c in t.commits(0, 1)] == [1]
    assert [c.version for c in t.commits(-1, 1)] == [0, 1]
    parts = r.partitions({"version": -1}, {"version": 1})
    rows = 0
    for p in parts:
        for b in r.read(p):
            assert isinstance(b, pa.RecordBatch)
            assert b.schema.names[-3:] == [
                "_change_type", "_commit_version", "_commit_timestamp"
            ]
            assert set(b.column("_change_type").to_pylist()) <= {"insert"}
            rows += b.num_rows
    assert rows == 8
