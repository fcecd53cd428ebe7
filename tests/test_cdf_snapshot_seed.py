"""startingMode=snapshot — CDF catch-up admission (round 8):

a fresh stream on a long table seeds its FIRST micro-batch from the
LIVE SNAPSHOT (bounded by table size, restate-proof) instead of
replaying the whole change history, then streams the tail. The seed
equals ``read_changes_cdf(-1, upto_version=head)`` exactly.
"""
from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable
from lakehouse_test_spark.sources.cdf_datasource import (
    LakehouseCDFStreamReader,
    register,
)


def _key(rows):
    return sorted(
        (r["k"], r["_change_type"], r["_commit_version"]) for r in rows
    )


def _drain_memory(spark, path, name, **opts):
    register(spark)
    ck = tempfile.mkdtemp(prefix=f"snapseed_{name}_")
    try:
        reader = spark.readStream.format("lakehouse_cdf").option("path", path)
        for kk, vv in opts.items():
            reader = reader.option(kk, vv)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(ck, ignore_errors=True)
    return spark.sql(f"SELECT * FROM {name}")


def test_snapshot_seed_equals_native_initial_load(spark, tmp_path):
    """Backlog with restates and DVs — poison for an earliest start —
    seeds cleanly and matches read_changes_cdf(-1) row for row,
    provenance versions included."""
    t = LakehouseTable(spark, str(tmp_path / "seed"))
    for i in range(5):
        t.append(spark.range(i * 10, i * 10 + 5).select(F.col("id").alias("k")))
    t.delete_where("k % 10 = 4")  # restate in the backlog
    t.append(spark.range(100, 105).select(F.col("id").alias("k")))
    t.delete_where_dv("k >= 103")  # live DV at the head
    got = _drain_memory(
        spark, str(t.path), "snapseed_eq", startingMode="snapshot"
    ).collect()
    native = t.read_changes_cdf(-1).collect()
    assert _key(got) == _key(native)
    assert {r["_change_type"] for r in got} == {"insert"}
    # earliest mode on the same table raises (restate in the backlog)
    with pytest.raises(Exception, match="full rewrite|restate|snapshot"):
        _drain_memory(spark, str(t.path), "snapseed_poison").collect()


def test_snapshot_seed_partitions_bounded_by_live_set(spark, tmp_path):
    """40 backlog commits compacted to 2 files: the seed plans 2
    partitions (the LIVE set), never one per historical file — the
    100 TB admission property."""
    t = LakehouseTable(spark, str(tmp_path / "bounded"))
    for i in range(40):
        t.append(
            spark.range(i, i + 1).select(F.col("id").alias("k")).coalesce(1)
        )
    t.compact(target_partitions=2)
    r = LakehouseCDFStreamReader({"path": str(t.path)}, None)
    start = r.initialOffset()  # no mode: earliest
    assert start == {"version": -1}
    rs = LakehouseCDFStreamReader(
        {"path": str(t.path), "startingMode": "snapshot"}, None
    )
    s0 = rs.initialOffset()
    assert s0 == {"version": -1, "mode": "snapshot"}
    parts = rs.partitions(s0, rs.latestOffset())
    assert len(parts) == 2
    assert all(p.kind == "snap" for p in parts)
    assert all(p.positions is None for p in parts)  # nothing driver-side
    # the compacting restate is the provenance version (as in Delta,
    # the logical insert version is unrecoverable post-compaction)
    assert {p.version for p in parts} == {t.latest_version()}


def test_snapshot_seed_then_tail_across_restart(spark, tmp_path):
    """AvailableNow drain, then appends, then a SECOND drain from the
    same checkpoint: only the tail replays (exactly-once), labeled
    with its own commit versions."""
    t = LakehouseTable(spark, str(tmp_path / "tail"))
    for i in range(3):
        t.append(spark.range(i * 10, i * 10 + 5).select(F.col("id").alias("k")))
    t.delete_where_dv("k = 11")
    register(spark)
    ck = tempfile.mkdtemp(prefix="snapseed_ck_")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("startingMode", "snapshot")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    try:
        seed = drain()
        assert sorted(r["k"] for r in seed) == sorted(
            (set(range(5)) | set(range(10, 15)) | set(range(20, 25))) - {11}
        )
        assert 11 not in {r["k"] for r in seed}  # DV applied in the seed
        t.append(spark.range(200, 203).select(F.col("id").alias("k")))
        t.delete_where_dv("k = 200")
        all2 = drain()
        tail = [r for r in all2 if r["_commit_version"] > 3]
        assert len(all2) == len(seed) + len(tail)  # no seed re-replay
        assert sorted(
            (r["k"], r["_change_type"]) for r in tail
        ) == [(200, "delete"), (200, "insert"), (201, "insert"), (202, "insert")]
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def test_snapshot_seed_plans_one_partition_per_file(spark, tmp_path):
    """r10 verdict #4 plan-shape pin: the snapshot-seed batch plans
    ONE InputPartition per live data file — the property that makes
    the seed scale to a 1000-executor drain of a multi-TB table (and
    the regression guard against any driver-side funnel reappearing
    in the seed path). DV parquets attach to their base files'
    partitions, never widen the partition count."""
    t = LakehouseTable(spark, str(tmp_path / "planshape"))
    t.append(spark.range(40).select(F.col("id").alias("k")).repartition(7))  # 7 files
    t.append(spark.range(100, 120).select(F.col("id").alias("k")).repartition(3))  # 3 files
    t.delete_where_dv("k % 10 = 1")  # DV commit: no new base files
    r = LakehouseCDFStreamReader({"path": str(t.path)})
    live = t.pin(t.latest_version()).files
    parts = list(r._snapshot_partitions(t.latest_version()))
    assert len(parts) == len(live) == 10


def test_snapshot_seed_conflicts_and_empty_table(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "conflict"))
    t.append(spark.range(2).select(F.col("id").alias("k")))
    # r10: option-combo validation moved to CONSTRUCTION (the reader
    # self-computes its admission floor there), so a bad combo fails
    # at load() instead of at the first offset call
    with pytest.raises(ValueError, match="conflicts"):
        LakehouseCDFStreamReader(
            {
                "path": str(t.path),
                "startingMode": "snapshot",
                "startingVersion": "1",
            },
            None,
        )
    with pytest.raises(ValueError, match="startingMode"):
        LakehouseCDFStreamReader(
            {"path": str(t.path), "startingMode": "bogus"}, None
        )
    # empty table: seed plans the no-op partition, no crash
    e = LakehouseTable(spark, str(tmp_path / "empty"))
    re_ = LakehouseCDFStreamReader(
        {"path": str(e.path), "startingMode": "snapshot"}, None
    )
    parts = re_.partitions(re_.initialOffset(), re_.latestOffset())
    assert len(parts) == 1 and parts[0].file == ""


def test_snapshot_seed_logical_names(spark, tmp_path):
    """Seed on a renamed+dropped table under logicalNames=true matches
    the native logical surface (no dead-physical resurrection)."""
    t = LakehouseTable(spark, str(tmp_path / "seedlogical"))
    t.append(
        spark.range(3).select(
            F.col("id").alias("k"), (F.col("id") * 111).alias("v")
        )
    )
    t.rename_column("v", "w")
    t.drop_column("w")
    t.append(
        spark.range(3, 5).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("w")
        )
    )
    got = _drain_memory(
        spark,
        str(t.path),
        "snapseed_logical",
        startingMode="snapshot",
        logicalNames="true",
    )
    rows = {r["k"]: r["w"] for r in got.collect()}
    native = {r["k"]: r["w"] for r in t.read_changes_cdf(-1).collect()}
    assert rows == native
    assert rows[0] is None and rows[3] == 21


def test_plain_lakehouse_stream_snapshot_seed(spark, tmp_path):
    """startingMode=snapshot on the PLAIN format('lakehouse') stream
    (which delegates planning to the CDF reader): the seed equals the
    live snapshot — DV-deleted rows subtracted, restates in the
    backlog tolerated — and the tail follows across a restart."""
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        register as register_lh,
    )

    t = LakehouseTable(spark, str(tmp_path / "plainseed"))
    for i in range(3):
        t.append(spark.range(i * 10, i * 10 + 5).select(F.col("id").alias("k")))
    t.delete_where("k = 0")  # restate in the backlog: poison for earliest
    t.delete_where_dv("k >= 20")  # live DV at the head
    register_lh(spark)
    ck = tempfile.mkdtemp(prefix="plainseed_ck_")
    out = str(tmp_path / "plain_out")

    def drain():
        q = (
            spark.readStream.format("lakehouse")
            .option("path", str(t.path))
            .option("startingMode", "snapshot")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    try:
        seed = drain()
        expect = sorted(r["k"] for r in t.snapshot().collect())
        assert sorted(r["k"] for r in seed) == expect
        assert 20 not in {r["k"] for r in seed}  # DV applied in the seed
        # earliest mode on the same table raises (restate in backlog)
        import pytest as _pytest

        ck2 = tempfile.mkdtemp(prefix="plainseed_ck2_")
        with _pytest.raises(Exception, match="rewrite|restate|snapshot"):
            q2 = (
                spark.readStream.format("lakehouse")
                .option("path", str(t.path))
                .load()
                .writeStream.format("parquet")
                .option("path", str(tmp_path / "poison_out"))
                .option("checkpointLocation", ck2)
                .trigger(availableNow=True)
                .start()
            )
            q2.awaitTermination()
        shutil.rmtree(ck2, ignore_errors=True)
        # tail continues exactly-once from the same checkpoint
        t.append(spark.range(100, 103).select(F.col("id").alias("k")))
        all2 = drain()
        assert len(all2) == len(seed) + 3
        assert {100, 101, 102} <= {r["k"] for r in all2}
    finally:
        shutil.rmtree(ck, ignore_errors=True)


def test_seed_chunk_files_removed_loudly(spark, tmp_path):
    """seedChunkFiles (r8) was REMOVED: the engine pins the first end
    offset before initialOffset runs (tools/probe_call_order.py), so
    cursor-chunking the seed duplicated rows. The knob now fails at
    construction — never a silently-ignored option — and checkpoints
    holding its cursor-form offsets are refused with a recipe."""
    t = LakehouseTable(spark, str(tmp_path / "chunkgone"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="seedChunkFiles was removed"):
        LakehouseCDFStreamReader(
            {
                "path": str(t.path),
                "startingMode": "snapshot",
                "seedChunkFiles": "2",
            },
            None,
        )
    # a checkpointed cursor-form offset from an r8 chunked stream is
    # known-corrupt (the option duplicated rows): refuse, don't guess
    r = LakehouseCDFStreamReader(
        {"path": str(t.path), "startingMode": "snapshot"}, None
    )
    legacy = {"version": -1, "mode": "snapshot", "cursor": 2, "seedv": 0}
    with pytest.raises(RuntimeError, match="seedChunkFiles"):
        r.partitions(legacy, {"version": 0})
    with pytest.raises(RuntimeError, match="fresh checkpoint"):
        r.partitions({"version": -1, "mode": "snapshot"}, legacy)
