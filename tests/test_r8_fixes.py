"""Round-8 fixes, each an ADVICE item pinned as a test:

1. (high) the bounded CDF initial load ``read_changes_cdf(-1,
   upto_version=V)`` must resolve deletion vectors AS OF V, not the
   current head — a DV committed after V must not filter the load
   (over-delete), and a restate after V must not drop a DV that WAS
   live at V (resurrection);
2. (medium) the single-scan initial load's broadcast (file → version)
   map must join against absolutized keys, so a table opened via a
   RELATIVE path still loads (it used to silently return zero rows).
"""
from __future__ import annotations

import os

from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable


def test_bounded_cdf_initial_load_ignores_dv_after_bound(spark, tmp_path):
    """A DV committed AFTER upto_version must not filter rows out of
    the bounded initial load: the contract is load == time-traveled
    snapshot at the bound."""
    t = LakehouseTable(spark, str(tmp_path / "dvafter"))
    t.append(spark.range(6).select(F.col("id").alias("k")))  # v0
    t.append(spark.range(6, 9).select(F.col("id").alias("k")))  # v1
    t.delete_where_dv("k >= 7")  # v2 — after the bound
    init = t.read_changes_cdf(-1, upto_version=1)
    assert sorted(r["k"] for r in init.collect()) == list(range(9))
    # parity with the time-traveled snapshot
    snap = t.snapshot(version=1)
    assert sorted(r["k"] for r in snap.collect()) == list(range(9))
    # head load still sees the DV
    head = t.read_changes_cdf(-1)
    assert sorted(r["k"] for r in head.collect()) == list(range(7))


def test_bounded_cdf_initial_load_keeps_dv_live_at_bound(spark, tmp_path):
    """DV-then-restate: a restate AFTER the bound resets the live
    commit chain (head has no DV), but the bounded load must still
    apply the DV that was live at the bound — deleted rows must not
    resurrect."""
    t = LakehouseTable(spark, str(tmp_path / "dvrestate"))
    t.append(spark.range(6).select(F.col("id").alias("k")))  # v0
    t.delete_where_dv("k >= 4")  # v1: DV live at the bound
    t.delete_where("k = 0")  # v2: full restate — clears DVs at head
    init = t.read_changes_cdf(-1, upto_version=1)
    assert sorted(r["k"] for r in init.collect()) == [0, 1, 2, 3]
    snap = t.snapshot(version=1)
    assert sorted(r["k"] for r in snap.collect()) == [0, 1, 2, 3]
    # head is the restated surface
    assert sorted(r["k"] for r in t.read_changes_cdf(-1).collect()) == [
        1,
        2,
        3,
    ]


def test_cdf_initial_load_from_relative_path(spark, tmp_path, monkeypatch):
    """A table opened via a RELATIVE path must produce a non-empty
    initial load: the broadcast map keys are absolutized so they match
    _metadata.file_path's fully-qualified URIs."""
    t0 = LakehouseTable(spark, str(tmp_path / "relcdf"))
    t0.append(spark.range(5).select(F.col("id").alias("k")))
    t0.delete_where_dv("k = 4")
    rel = os.path.relpath(str(tmp_path / "relcdf"), os.getcwd())
    t = LakehouseTable(spark, rel)
    init = t.read_changes_cdf(-1)
    rows = init.collect()
    assert sorted(r["k"] for r in rows) == [0, 1, 2, 3]
    assert {r["_change_type"] for r in rows} == {"insert"}
    assert {r["_commit_version"] for r in rows} == {0}


def test_legacy_txn_compat_folds_operation_labels(spark, tmp_path):
    """Opt-in migration shim: a pre-r7 table (markers encoded in
    operation labels, no txn field) surfaces its high-waters under
    legacy_txn_compat=True; one checkpoint folds them durably so the
    flag can then be dropped. Default stays label-blind (the misread
    is data loss, pinned in test_stream_batch_high_water)."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    from pyspark.sql import functions as F

    p = str(tmp_path / "legacytxn")
    t = LakehouseTable(spark, p)
    df = spark.range(2).select(F.col("id").alias("v"))
    t.append(df, operation="job-b0")  # legacy-style: no txn field
    t.append(df, operation="job-b3")
    assert t.stream_batch_high("job") == -1  # default: invisible
    tc = LakehouseTable(spark, p, legacy_txn_compat=True)
    assert tc.stream_batch_high("job") == 3
    tc.checkpoint()  # folds legacy markers into the pointer txn map
    t2 = LakehouseTable(spark, p)  # flag dropped
    assert t2.stream_batch_high("job") == 3


def test_sql_dml_fails_loudly_on_lakehouse_views(spark, tmp_path):
    """DML is engine-API-only (the Spark 4 Python DataSource exposes
    no DML hook): MERGE/UPDATE/DELETE against a registered lakehouse
    view must fail LOUDLY in analysis — never silently no-op. The
    supported route is LakehouseTable.merge / delete_where[_dv]
    (USAGE.md Round 8)."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_test_spark.sources.lakehouse_datasource import (
        register_table,
    )

    t = LakehouseTable(spark, str(tmp_path / "dml"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    register_table(spark, str(tmp_path / "dml"), "dml_t")
    spark.range(2).select(F.col("id").alias("k")).createOrReplaceTempView(
        "dml_src"
    )
    with pytest.raises(Exception, match="MERGE INTO|does not support"):
        spark.sql(
            "MERGE INTO dml_t USING dml_src ON dml_t.k = dml_src.k "
            "WHEN MATCHED THEN UPDATE SET k = dml_src.k"
        )
    with pytest.raises(Exception, match="UPDATE|does not support"):
        spark.sql("UPDATE dml_t SET k = 0")
    with pytest.raises(Exception, match="delete|DELETE"):
        spark.sql("DELETE FROM dml_t WHERE k = 1")
    # the table itself is untouched
    assert t.snapshot().count() == 3


def test_subset_readers_zero_footer_reads_on_evolved_table(spark, tmp_path):
    """scan_pruned / scan_point / scan_pruned_box on an evolved table
    (drop + widen) fold the kept files' OWNING commits' recorded
    schemas — zero parquet-footer reads (on object storage a point
    lookup keeping 50 files used to pay 50 footer GETs)."""
    from unittest import mock

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    t = LakehouseTable(spark, str(tmp_path / "subsetev"))
    t.append(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.col("id").cast("int").alias("v"),
            (F.col("id") * 2).alias("dead"),
        ),
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    t.widen_column("v", "bigint")
    t.drop_column("dead")
    t.append(
        spark.range(10, 20).select(
            F.col("id").alias("k"), F.col("id").cast("bigint").alias("v")
        ),
        stats_cols=["k"],
        bloom_cols=["k"],
    )
    with mock.patch.object(
        pq, "read_schema", side_effect=AssertionError("footer read")
    ):
        df, kept, total = t.scan_pruned("k", 12, 15)
        assert sorted(r["k"] for r in df.collect()) == [12, 13, 14, 15]
        dfp, _, _ = t.scan_point("k", 3)
        assert [r["v"] for r in dfp.collect()] == [3]
        dfb, _, _ = t.scan_pruned_box({"k": (5, 7)})
        assert sorted(r["k"] for r in dfb.collect()) == [5, 6, 7]
    assert "dead" not in df.columns
    assert dict(df.dtypes)["v"] == "bigint"


def test_delta_export_schema_fold_no_live_footer_pass(spark, tmp_path):
    """The Delta exporter's per-commit merged-schema check folds
    commit-RECORDED schemas — an export must not mergeSchema-read the
    live set's footers per schema-bearing commit (O(live files) per
    incremental call). Pin: _read_data never runs during a full
    export of a modern (schema-recording) table."""
    from unittest import mock

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )

    t = LakehouseTable(spark, str(tmp_path / "dfold"))
    t.append(spark.range(4).select(F.col("id").alias("k")))
    t.append(
        spark.range(4, 8).select(
            F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")
        )
    )  # additive evolution: schema changes mid-history
    with mock.patch.object(
        type(t), "_read_data", side_effect=AssertionError("footer pass")
    ):
        export_delta_log(spark, t, incremental=False)
    got = read_delta_log(spark, str(t.path))
    assert got.count() == 8 and set(got.columns) == {"k", "v"}
    # evolved published schema reached the log
    assert got.where("v IS NULL").count() == 4


def test_legacy_txn_compat_recovers_markers_buried_under_checkpoint(
    spark, tmp_path
):
    """A label-blind checkpoint that already landed ABOVE legacy
    markers must not hide them from the migration fold: under
    legacy_txn_compat the fold runs over the full history, recovers
    the high-water, and one checkpoint persists it."""
    from pyspark.sql import functions as F

    p = str(tmp_path / "buried")
    t = LakehouseTable(spark, p)
    df = spark.range(2).select(F.col("id").alias("v"))
    t.append(df, operation="job-b0")  # legacy markers, no txn field
    t.append(df, operation="job-b6")
    t.checkpoint()  # label-blind checkpoint BURIES the markers
    assert t.stream_batch_high("job") == -1  # default: invisible
    tc = LakehouseTable(spark, p, legacy_txn_compat=True)
    assert tc.stream_batch_high("job") == 6  # full-history scan
    tc.checkpoint()  # persists the recovered map
    t2 = LakehouseTable(spark, p)  # flag dropped
    assert t2.stream_batch_high("job") == 6


def test_snapshot_seed_on_path_with_space(spark, tmp_path):
    """Spark records _metadata.file_path URL-encoded (a space is
    %20); the seed's DV matching is representation-insensitive, so a
    table under such a path still subtracts its deletion vectors
    (it used to silently re-emit the deleted rows)."""
    import shutil as _sh
    import tempfile as _tf

    from pyspark.sql import functions as F

    from lakehouse_test_spark.sources.cdf_datasource import register

    t = LakehouseTable(spark, str(tmp_path / "odd name" / "tbl"))
    t.append(spark.range(8).select(F.col("id").alias("k")))
    t.delete_where_dv("k >= 5")
    register(spark)
    ck = _tf.mkdtemp(prefix="seedspace_")
    try:
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("startingMode", "snapshot")
            .load()
            .writeStream.format("memory")
            .queryName("seedspace")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.sql("SELECT * FROM seedspace").collect()
        assert sorted(r["k"] for r in rows) == [0, 1, 2, 3, 4]
    finally:
        _sh.rmtree(ck, ignore_errors=True)


def test_iceberg_resume_degrades_on_truncated_manifest(spark, tmp_path):
    """A TRUNCATED manifest-list (crash mid-export) still passes the
    Avro magic check and then runs the varint decoder off the buffer
    end — the resume guard must degrade to full rewrite, not raise
    IndexError."""
    import json as _json
    from pathlib import Path as _P

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    t = LakehouseTable(spark, str(tmp_path / "trunc_ice"))
    t.append(spark.range(4).select(F.col("id").alias("k")))
    meta_dir = export_iceberg_metadata(spark, t)
    md = _json.loads((meta_dir / "v1.metadata.json").read_text())
    head = max(md["snapshots"], key=lambda s: s["snapshot-id"])
    ml = _P(head["manifest-list"])
    ml.write_bytes(ml.read_bytes()[:10])  # magic intact, body gone
    t.append(spark.range(4, 7).select(F.col("id").alias("k")))
    export_iceberg_metadata(spark, t)  # must not raise
    got = read_iceberg(spark, str(t.path))
    assert sorted(r["k"] for r in got.collect()) == list(range(7))


def test_streaming_rejects_ref_suffixed_paths_loudly(spark, tmp_path):
    """A stream on an @-ref path (pinned snapshot / fork) must fail at
    load()/start() with the recipe — it used to die inside
    planPartitions as 'FileNotFoundError: .../t@branch:dev/_log'."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_test_spark.sources.cdf_datasource import (
        register as reg_cdf,
    )
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        register as reg_lh,
    )

    t = LakehouseTable(spark, str(tmp_path / "refstream"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    t.tag("r1")
    reg_cdf(spark)
    reg_lh(spark)
    with pytest.raises(Exception, match="streaming does not support"):
        (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path) + "@tag:r1")
            .load()
        )
    with pytest.raises(Exception, match="streaming does not support"):
        q = (
            spark.readStream.format("lakehouse")
            .option("path", str(t.path) + "@v0")
            .load()
            .writeStream.format("memory")
            .queryName("refstream_guard")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # the BATCH reader keeps full ref support
    got = (
        spark.read.format("lakehouse")
        .load(str(t.path) + "@tag:r1")
        .count()
    )
    assert got == 3


def test_legacy_txn_compat_flows_through_delta_export(spark, tmp_path):
    """The migration flag reaches the Delta exporter: a pre-r7 table's
    label-encoded markers export as SetTransaction actions only under
    legacy_txn_compat (default stays label-blind), so an external
    Delta writer resuming idempotent appends sees the recovered
    high-water."""
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        replay_txn_high,
    )

    p = str(tmp_path / "legacydelta")
    w = LakehouseTable(spark, p)
    df0 = spark.range(2).select(F.col("id").alias("v"))
    w.append(df0, operation="job-b0")
    w.append(df0, operation="job-b4")
    export_delta_log(spark, w)
    assert replay_txn_high(p, "job") == -1  # default: invisible
    wl = LakehouseTable(spark, p, legacy_txn_compat=True)
    export_delta_log(spark, wl, incremental=False)
    assert replay_txn_high(p, "job") == 4
