"""Iceberg-v2 export tests: Avro OCF codec roundtrip, metadata
structure, and replay == native snapshot across appends, restates,
and deletion-vector (position-delete) commits."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.iceberg_export import (
    MANIFEST_ENTRY_SCHEMA,
    export_iceberg_metadata,
    iceberg_plan_files,
    iceberg_plan_files_pruned,
    read_iceberg,
    read_iceberg_pruned,
    read_ocf,
    write_ocf,
    _snapshot_id,
)
from lakehouse_test_spark.plans.lakehouse import LakehouseTable
from lakehouse_test_spark.sources.synthetic import person_stream


@pytest.fixture()
def table(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "icetbl"))
    yield t
    t.drop()


def test_ocf_roundtrip_manifest_entries(tmp_path):
    """The minimal Avro OCF writer/reader must roundtrip manifest
    entries exactly — nested records, null-unions, empty structs."""
    entries = [
        {
            "status": 1,
            "snapshot_id": 1000,
            "sequence_number": 1,
            "file_sequence_number": None,
            "data_file": {
                "content": 0,
                "file_path": "/tmp/x/part-000.parquet",
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 1234,
                "file_size_in_bytes": 56789,
                "equality_ids": None,
                "lower_bounds": [{"key": 1, "value": b"\x01\x00\x00\x00"}],
                "upper_bounds": [{"key": 1, "value": b"\xff\x00\x00\x00"}],
            },
        },
        {
            "status": 0,
            "snapshot_id": None,
            "sequence_number": None,
            "file_sequence_number": 7,
            "data_file": {
                "content": 1,
                "file_path": "/tmp/x/delete-1.parquet",
                "file_format": "PARQUET",
                "partition": {},
                "record_count": 0,
                "file_size_in_bytes": 0,
                "equality_ids": [1, 3],
                "lower_bounds": None,
                "upper_bounds": None,
            },
        },
    ]
    p = tmp_path / "m.avro"
    write_ocf(p, MANIFEST_ENTRY_SCHEMA, entries, meta={"format-version": "2"})
    schema, md, got = read_ocf(p)
    assert got == entries
    assert md["format-version"] == "2"
    # spec field-ids ride in the embedded schema for real readers
    assert schema["fields"][0]["field-id"] == 0
    data_file_field = next(f for f in schema["fields"] if f["name"] == "data_file")
    assert data_file_field["field-id"] == 2


def test_iceberg_replay_matches_native_at_every_version(spark, table):
    """metadata → manifest list → manifests → scan must equal the
    native snapshot at every commit, including across a full restate
    and a DV commit (position deletes)."""
    table.append(person_stream(spark, 40))  # v0
    table.append(person_stream(spark, 20).withColumn("ba", F.col("ba") + 100))  # v1
    table.delete_where("age < 25")  # v2 restate
    table.append(person_stream(spark, 10).withColumn("ba", F.col("ba") + 500))  # v3
    table.delete_where_dv("ba >= 500 and ba < 505")  # v4 position deletes

    export_iceberg_metadata(spark, table)
    for v in range(5):
        got = read_iceberg(spark, str(table.path), _snapshot_id(v))
        want = table.snapshot(version=v)
        assert got.exceptAll(want).count() == 0, f"v{v}: extra rows"
        assert want.exceptAll(got).count() == 0, f"v{v}: missing rows"
    # default read = current snapshot
    cur = read_iceberg(spark, str(table.path))
    assert cur.count() == table.snapshot().count()


def test_iceberg_metadata_structure(spark, table):
    """metadata.json carries the v2 essentials: snapshots with
    sequence numbers + operations, schema with field ids, manifest
    carry-forward on append, fresh manifest set after restate."""
    table.append(person_stream(spark, 10))  # v0 append
    table.append(person_stream(spark, 10).withColumn("ba", F.col("ba") + 50))  # v1
    table.delete_where("ba < 5")  # v2 overwrite
    meta_dir = export_iceberg_metadata(spark, table)

    md = json.loads((meta_dir / "v1.metadata.json").read_text())
    assert md["format-version"] == 2
    assert md["current-snapshot-id"] == _snapshot_id(2)
    ops = [s["summary"]["operation"] for s in md["snapshots"]]
    assert ops == ["append", "append", "overwrite"]
    seqs = [s["sequence-number"] for s in md["snapshots"]]
    assert seqs == [1, 2, 3]
    assert all(f["id"] > 0 for f in md["schemas"][0]["fields"])

    # append v1's manifest list carries v0's manifest forward
    snap1 = md["snapshots"][1]
    _, _, manifests1 = read_ocf(Path(snap1["manifest-list"]))
    assert len(manifests1) == 2
    assert {m["sequence_number"] for m in manifests1} == {1, 2}
    # overwrite v2 starts a fresh manifest set
    snap2 = md["snapshots"][2]
    _, _, manifests2 = read_ocf(Path(snap2["manifest-list"]))
    assert len(manifests2) == 1
    assert manifests2[0]["sequence_number"] == 3


def test_iceberg_position_delete_files_shape(spark, table):
    """DV commits export as Iceberg v2 position-delete parquet
    (file_path, pos — sorted) referenced by a content=1 manifest."""
    import pyarrow.parquet as pq

    table.append(person_stream(spark, 30))
    n_young = table.snapshot().where("age < 30").count()
    table.delete_where_dv("age < 30")
    export_iceberg_metadata(spark, table)

    data_files, delete_files = iceberg_plan_files(str(table.path))
    assert delete_files, "DV commit must surface position-delete files"
    total = 0
    referenced: set[str] = set()
    for df in delete_files:
        t = pq.read_table(df)
        assert t.column_names == ["file_path", "pos"]
        total += t.num_rows
        rows = list(zip(t.column("file_path").to_pylist(), t.column("pos").to_pylist()))
        assert rows == sorted(rows)  # sorted within each delete file
        referenced |= set(t.column("file_path").to_pylist())
    assert total == n_young
    # the delete-file paths point at live data files
    assert referenced <= set(data_files)


def _month_frame(spark, month: int, ids):
    rows = [(int(i), f"2024-{month:02d}-{(int(i) % 27) + 1:02d}", float(i) * 1.5) for i in ids]
    return (
        spark.createDataFrame(rows, "id long, d string, v double")
        .withColumn("d", F.to_date("d"))
    )


def test_iceberg_partition_spec_export_and_pruned_planning(spark, table):
    """The export must carry the REAL partition-spec history (hidden
    transforms → Iceberg transform strings, spec evolution → spec-id
    bump) and per-file partition tuples, such that a planner working
    from the exported metadata ALONE prunes both metadata tiers:
    whole manifests via field summaries, files via partition tuples —
    while files of other spec vintages stay scan-safe (kept)."""
    # v0: pre-spec append (spec-0 vintage, must never be pruned)
    table.append(_month_frame(spark, 1, range(0, 4)).unionAll(_month_frame(spark, 2, range(4, 8))))
    table.set_partition_spec(["month(d)"])
    table.append_partitioned(_month_frame(spark, 1, range(10, 20)))  # v1 Jan
    table.append_partitioned(_month_frame(spark, 2, range(20, 30)))  # v2 Feb
    table.append_partitioned(_month_frame(spark, 3, range(30, 40)))  # v3 Mar
    table.set_partition_spec(["month(d)", "bucket(2, id)"])  # evolution
    table.append_partitioned(_month_frame(spark, 2, range(40, 50)))  # v4 Feb, spec 2

    meta_dir = export_iceberg_metadata(spark, table)
    md = json.loads((meta_dir / "v1.metadata.json").read_text())

    # spec history: unpartitioned 0, [month] 1, [month, bucket] 2
    specs = md["partition-specs"]
    assert [s["spec-id"] for s in specs] == [0, 1, 2]
    assert md["default-spec-id"] == 2
    assert [f["transform"] for f in specs[1]["fields"]] == ["month"]
    assert [f["transform"] for f in specs[2]["fields"]] == ["month", "bucket[2]"]
    assert all(f["field-id"] >= 1000 for s in specs for f in s["fields"])
    assert md["last-partition-id"] == 1002
    # transforms reference schema field ids
    d_id = next(f["id"] for f in md["schemas"][0]["fields"] if f["name"] == "d")
    assert specs[1]["fields"][0]["source-id"] == d_id

    # full replay still equals the native snapshot
    got, want = read_iceberg(spark, str(table.path)), table.snapshot()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    # pruned plan for Feb: Jan/Mar manifests are skipped at the
    # manifest-LIST tier (never opened); Jan/Mar files never listed
    plan = iceberg_plan_files_pruned(str(table.path), "month(d)", "2024-02", "2024-02")
    assert plan["manifests_total"] == 5  # v0 + 3 monthly + evolved Feb
    assert plan["manifests_read"] == 3  # spec-0 (no summary) + both Febs
    assert plan["files_total"] == len(iceberg_plan_files(str(table.path))[0])
    assert 0 < len(plan["data_files"]) < plan["files_total"]

    # files outside the predicate's partitions are never listed:
    # every pruned-out file holds only non-Feb rows
    kept = set(plan["data_files"])
    dropped = set(iceberg_plan_files(str(table.path))[0]) - kept
    assert dropped
    feb = spark.read.parquet(*sorted(kept)).where(F.date_format("d", "yyyy-MM") == "2024-02")
    assert spark.read.parquet(*sorted(dropped)).where(
        F.date_format("d", "yyyy-MM") == "2024-02"
    ).count() == 0
    # ... and the kept set covers ALL Feb rows (scan-safe + complete)
    df, plan2 = read_iceberg_pruned(spark, str(table.path), "month(d)", "2024-02", "2024-02")
    assert plan2 == plan
    got_feb = df.where(F.date_format("d", "yyyy-MM") == "2024-02")
    want_feb = table.snapshot().where(F.date_format("d", "yyyy-MM") == "2024-02")
    assert got_feb.exceptAll(want_feb).count() == 0
    assert want_feb.exceptAll(got_feb).count() == 0
    assert feb.count() == want_feb.count()


def test_iceberg_partitioned_restate_and_manifest_spec_grouping(spark, table):
    """Restates drop to spec-0 manifests (rewrites carry no partition
    tuples — scan-safe), and every exported manifest is single-spec
    with a partition struct matching its spec's Avro schema."""
    table.set_partition_spec(["month(d)"])
    table.append_partitioned(_month_frame(spark, 1, range(0, 6)))
    table.append_partitioned(_month_frame(spark, 2, range(6, 12)))
    table.delete_where("id = 3")  # restate: full rewrite, unpartitioned
    meta_dir = export_iceberg_metadata(spark, table)
    md = json.loads((meta_dir / "v1.metadata.json").read_text())
    cur = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    _, _, manifests = read_ocf(Path(cur["manifest-list"]))
    assert [m["partition_spec_id"] for m in manifests] == [0]
    # pruning after the restate keeps everything (spec-0: no tuples)
    plan = iceberg_plan_files_pruned(str(table.path), "month(d)", "2024-01", "2024-01")
    assert len(plan["data_files"]) == plan["files_total"]
    got, want = read_iceberg(spark, str(table.path)), table.snapshot()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_iceberg_null_partition_values_scan_safe(spark, table):
    """A NULL partition value exports as a null tuple slot +
    contains_null in the field summary; pruned plans must keep the
    file (skipping is only ever safe on known bounds)."""
    df = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0)], "id long, cat string, v double"
    )
    table.set_partition_spec(["cat"])
    table.append_partitioned(df)
    meta_dir = export_iceberg_metadata(spark, table)
    md = json.loads((meta_dir / "v1.metadata.json").read_text())
    cur = next(s for s in md["snapshots"] if s["snapshot-id"] == md["current-snapshot-id"])
    _, _, manifests = read_ocf(Path(cur["manifest-list"]))
    assert manifests[0]["partitions"][0]["contains_null"] is True
    plan = iceberg_plan_files_pruned(str(table.path), "cat", "a", "a")
    got, _ = read_iceberg_pruned(spark, str(table.path), "cat", "a", "a")
    rows = {(r["id"], r["cat"]) for r in got.collect()}
    assert (1, "a") in rows and (3, None) in rows  # null-partition file kept
    assert (2, "b") not in rows  # other partition pruned
    assert len(plan["data_files"]) < plan["files_total"]


def test_iceberg_name_mapping_rename_and_tag_refs(spark, table):
    """Renamed tables export with schema.name-mapping.default (the
    spec's mechanism for files without embedded field-ids): logical
    names in the schema, physical names listed in the mapping, the
    replay surfacing the LOGICAL schema with both vintages' values.
    Native tags export as Iceberg tag refs."""
    table.append(
        spark.range(0, 30).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    table.tag("v1.0")
    table.rename_column("v", "v_usd")
    table.append(
        spark.range(30, 60).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v_usd")
        )
    )
    meta_dir = export_iceberg_metadata(spark, table)
    md = json.loads((meta_dir / "v1.metadata.json").read_text())

    cur = next(
        s for s in md["schemas"] if s["schema-id"] == md["current-schema-id"]
    )
    assert {f["name"] for f in cur["fields"]} == {"k", "v_usd"}
    nm = {
        e["field-id"]: e["names"]
        for e in json.loads(md["properties"]["schema.name-mapping.default"])
    }
    v_id = next(f["id"] for f in cur["fields"] if f["name"] == "v_usd")
    assert nm[v_id] == ["v_usd", "v"]  # logical first, physical second

    got = read_iceberg(spark, str(table.path))
    assert set(got.columns) == {"k", "v_usd"}
    assert got.where(F.col("v_usd").isNull()).count() == 0
    assert got.agg(F.sum("v_usd")).collect()[0][0] == sum(2 * i for i in range(60))

    # tag ref: reads the tagged snapshot under its CONTEMPORANEOUS
    # schema (per-snapshot schema-id lineage) — the tag predates the
    # rename, so the column surfaces its then-current name
    assert md["refs"]["v1.0"]["type"] == "tag"
    tagged = read_iceberg(spark, str(table.path), ref="v1.0")
    assert tagged.count() == 30 and "v" in tagged.columns


def _eqdel_fixture(tmp_path, rows, deletes, data_seq, del_seq):
    """Minimal foreign table: one data file (seq=data_seq), one
    equality-delete file on field 1 (seq=del_seq)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_test_spark.plans.iceberg_export import (
        CONTENT_DATA,
        CONTENT_DELETES,
        CONTENT_EQ_DELETES,
        MANIFEST_FILE_SCHEMA,
        ST_ADDED,
    )

    root = tmp_path / "eqdel"
    (root / "metadata").mkdir(parents=True)
    (root / "data").mkdir()
    sch = pa.schema(
        [
            pa.field("k", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
            pa.field("v", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
        ]
    )
    dpath = str(root / "data" / "d.parquet")
    pq.write_table(
        pa.table({"k": [r[0] for r in rows], "v": [r[1] for r in rows]}).cast(sch),
        dpath,
    )
    epath = str(root / "data" / "e.parquet")
    pq.write_table(
        pa.table(
            {"k": pa.array(deletes, pa.int64())}
        ).cast(pa.schema([pa.field("k", pa.int64(),
                                    metadata={b"PARQUET:field_id": b"1"})])),
        epath,
    )
    entries = [
        {
            "status": ST_ADDED, "snapshot_id": 1, "sequence_number": data_seq,
            "file_sequence_number": data_seq,
            "data_file": {
                "content": CONTENT_DATA, "file_path": dpath,
                "file_format": "PARQUET", "partition": {},
                "record_count": len(rows),
                "file_size_in_bytes": 1, "equality_ids": None,
            },
        },
        {
            "status": ST_ADDED, "snapshot_id": 1, "sequence_number": del_seq,
            "file_sequence_number": del_seq,
            "data_file": {
                "content": CONTENT_EQ_DELETES, "file_path": epath,
                "file_format": "PARQUET", "partition": {},
                "record_count": len(deletes),
                "file_size_in_bytes": 1, "equality_ids": [1],
            },
        },
    ]
    m = root / "metadata" / "m.avro"
    write_ocf(m, MANIFEST_ENTRY_SCHEMA, entries, {"schema": "{}"})
    mlist = root / "metadata" / "snap-1.avro"
    write_ocf(
        mlist, MANIFEST_FILE_SCHEMA,
        [{
            "manifest_path": str(m), "manifest_length": m.stat().st_size,
            "partition_spec_id": 0, "content": CONTENT_DATA,
            "sequence_number": 1, "min_sequence_number": 1,
            "added_snapshot_id": 1, "added_files_count": 2,
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": 0, "existing_rows_count": 0,
            "deleted_rows_count": 0, "partitions": None,
        }],
    )
    meta = {
        "format-version": 2, "table-uuid": "t", "location": str(root),
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "manifest-list": str(mlist)}],
        "schemas": [{
            "type": "struct", "schema-id": 0,
            "fields": [
                {"id": 1, "name": "k", "required": False, "type": "long"},
                {"id": 2, "name": "v", "required": False, "type": "string"},
            ],
        }],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0, "properties": {}, "refs": {},
    }
    (root / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    (root / "metadata" / "version-hint.text").write_text("1")
    return root


def test_equality_delete_applies_to_older_sequence(spark, tmp_path):
    rows = [(1, "a"), (2, "b"), (3, "c")]
    root = _eqdel_fixture(tmp_path, rows, deletes=[2, 3], data_seq=1, del_seq=2)
    got = sorted(r["k"] for r in read_iceberg(spark, str(root)).collect())
    assert got == [1]


def test_equality_delete_strictly_less_scoping(spark, tmp_path):
    """Spec: an equality delete applies to data files with sequence
    number STRICTLY LESS than the delete's — equal-seq rows (same
    transaction, e.g. a CDC upsert's own insert) must survive."""
    rows = [(1, "a"), (2, "b")]
    root = _eqdel_fixture(tmp_path, rows, deletes=[1, 2], data_seq=2, del_seq=2)
    got = sorted(r["k"] for r in read_iceberg(spark, str(root)).collect())
    assert got == [1, 2]


def test_exported_bounds_serve_multidim_box_scan(spark, tmp_path):
    """hilbert_cluster x export interplay: after clustering on (x, y)
    the exported per-file bounds are tight on BOTH axes, so an
    external planner's box scan (preds on x AND y) skips files from
    the manifests alone — the full clustering-to-interop loop."""
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.iceberg_export import (
        iceberg_plan_files_stats_pruned,
    )

    t = LakehouseTable(spark, str(tmp_path / "boxexp"))
    df = spark.range(4096).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
    )
    t.append(df.repartition(8, "id"), stats_cols=["x", "y"])
    t.hilbert_cluster(["x", "y"], target_partitions=8)
    export_iceberg_metadata(spark, t)
    plan = iceberg_plan_files_stats_pruned(
        str(t.path), preds={"x": (0, 15), "y": (0, 15)}
    )
    assert plan["files_skipped"] > 0, plan
    # the kept files must cover the box: scan them and count
    got = (
        spark.read.parquet(*plan["data_files"])
        .where("x <= 15 AND y <= 15")
        .count()
    )
    assert got == 16 * 16


def test_dv_export_is_position_deletes_only(spark, tmp_path):
    """Contract pin (USAGE.md): DV tables export POSITION deletes
    (content=1) — never equality deletes (content=2). Native DVs are
    position-keyed; the positional form is the lossless translation."""
    import json

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.plans.iceberg_export import (
        CONTENT_DELETES,
        CONTENT_EQ_DELETES,
        export_iceberg_metadata,
        iceberg_plan_entries,
        read_iceberg,
    )

    t = LakehouseTable(spark, str(tmp_path / "dvpos"))
    t.append(
        spark.range(0, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    t.delete_where_dv("k % 10 = 0")
    export_iceberg_metadata(spark, t)
    entries, delete_files, eq_deletes = iceberg_plan_entries(str(t.path))
    assert delete_files, "DV commit must export delete files"
    assert eq_deletes == [], "exporter must never fabricate equality deletes"
    # and the position deletes replay to the exact snapshot
    native = {(r.k, r.v) for r in t.snapshot().collect()}
    got = {(r.k, r.v) for r in read_iceberg(spark, str(t.path)).select("k", "v").collect()}
    assert got == native and len(got) == 90


def test_identity_partition_reconstruction_under_snapshot_schema(spark, tmp_path):
    """A time-traveled read of a Hive-migrated table (identity
    partition values live only in the manifests) must attach the
    reconstructed column under the SNAPSHOT-era name: the source
    column was renamed after the snapshot, and the final projection
    keeps snapshot-schema names — resolving via the CURRENT name
    would silently drop the column (r6 ADVICE #4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_test_spark.plans.iceberg_export import (
        CONTENT_DATA,
        MANIFEST_FILE_SCHEMA,
        ST_ADDED,
        manifest_entry_schema,
    )

    part_avro = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": "region", "type": ["null", "string"], "field-id": 1000}
        ],
    }
    root = tmp_path / "idpart"
    (root / "metadata").mkdir(parents=True)
    (root / "data").mkdir()
    sch = pa.schema(
        [pa.field("k", pa.int64(), metadata={b"PARQUET:field_id": b"1"})]
    )
    dpath = str(root / "data" / "d.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3]}).cast(sch), dpath)
    entries = [
        {
            "status": ST_ADDED, "snapshot_id": 1, "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": CONTENT_DATA, "file_path": dpath,
                "file_format": "PARQUET",
                "partition": {"region": "eu"},
                "record_count": 3,
                "file_size_in_bytes": 1, "equality_ids": None,
            },
        },
    ]
    m = root / "metadata" / "m.avro"
    write_ocf(m, manifest_entry_schema(part_avro), entries, {"schema": "{}"})
    mlist = root / "metadata" / "snap-1.avro"
    write_ocf(
        mlist, MANIFEST_FILE_SCHEMA,
        [{
            "manifest_path": str(m), "manifest_length": m.stat().st_size,
            "partition_spec_id": 0, "content": CONTENT_DATA,
            "sequence_number": 1, "min_sequence_number": 1,
            "added_snapshot_id": 1, "added_files_count": 1,
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": 3, "existing_rows_count": 0,
            "deleted_rows_count": 0, "partitions": None,
        }],
    )
    meta = {
        "format-version": 2, "table-uuid": "t", "location": str(root),
        "current-snapshot-id": 1,
        "snapshots": [{"snapshot-id": 1, "manifest-list": str(mlist),
                       "schema-id": 0}],
        "schemas": [
            {
                "type": "struct", "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "region", "required": False,
                     "type": "string"},
                ],
            },
            {
                # the partition source column renamed AFTER snapshot 1
                "type": "struct", "schema-id": 1,
                "fields": [
                    {"id": 1, "name": "k", "required": False, "type": "long"},
                    {"id": 2, "name": "zone", "required": False,
                     "type": "string"},
                ],
            },
        ],
        "current-schema-id": 1,
        "partition-specs": [{
            "spec-id": 0,
            "fields": [{"name": "region", "transform": "identity",
                        "source-id": 2, "field-id": 1000}],
        }],
        "default-spec-id": 0, "properties": {}, "refs": {},
    }
    (root / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    (root / "metadata" / "version-hint.text").write_text("1")

    # time-traveled read: snapshot-era name, values from the manifest
    old = read_iceberg(spark, str(root), snapshot_id=1)
    assert set(old.columns) == {"k", "region"}
    assert [r["region"] for r in old.collect()] == ["eu", "eu", "eu"]
    # current read: the renamed name carries the same values
    cur = read_iceberg(spark, str(root))
    assert set(cur.columns) == {"k", "zone"}
    assert {r["zone"] for r in cur.collect()} == {"eu"}


def test_compaction_materializes_widening_spec_native(spark, tmp_path):
    """OPTIMIZE is the spec-native migration for non-spec promotions
    (int→decimal is NOT in Iceberg's blessed set): compact() reads
    through the widened schema and rewrites, so every live file's
    FOOTER carries the widened physical type — the exported head
    snapshot needs no explicit-schema promotion crutch; only time
    travel below the compaction still reads old int32 vintages."""
    import pyarrow.parquet as pq

    t = LakehouseTable(spark, str(tmp_path / "widcomp"))
    t.append(
        spark.range(5).select(
            F.col("id").alias("k"), F.col("id").cast("int").alias("v")
        )
    )
    t.widen_column("v", "decimal(12,2)")
    t.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.0).cast("decimal(12,2)").alias("v"),
        )
    )
    # pre-compaction: two footer vintages live (int32 + decimal)
    vintages = {
        str(pq.read_schema(t.path / f).field("v").type) for _c, f in t.pin().files
    }
    assert len(vintages) == 2
    c = t.compact(target_partitions=2)
    # post-compaction: ONE footer schema, the widened physical type
    vintages = {
        str(pq.read_schema(t.path / f).field("v").type) for _c, f in t.pin().files
    }
    assert vintages == {"decimal128(12, 2)"}
    # export: the head snapshot's manifests reference only
    # decimal-typed files; an external reader replays it without any
    # promotion, and equals the native snapshot
    export_iceberg_metadata(spark, t)
    got = read_iceberg(spark, str(t.path))
    want = t.snapshot()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert dict(got.dtypes)["v"] == "decimal(12,2)"
    # time travel below the compaction still serves the old vintages
    old = read_iceberg(spark, str(t.path), _snapshot_id(0))
    assert old.count() == 5
    assert t.snapshot(version=0).count() == 5
