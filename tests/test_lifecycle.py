"""Kitchen-sink lifecycle: every table feature exercised IN SEQUENCE
on one table, state checked against an independently-maintained model
after each step, then read through every reader surface (snapshot,
CDF initial load, clone, Delta replay, Iceberg replay). This is the
cross-feature regression net: each feature passes its own tests, but
the bugs this round kept finding lived in the INTERACTIONS
(rename x export, DV x export, vacuum x export, clone x metadata)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import (
    ConstraintViolationError,
    LakehouseTable,
)


def _rows(spark, ks, val_of, name="v"):
    return spark.createDataFrame(
        [(int(k), int(val_of(k))) for k in ks], f"k long, {name} long"
    )


def test_full_lifecycle(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "life"))
    model: dict[int, int] = {}  # k -> val (v2 is always derived)

    # constraints + generated columns first (they govern every write)
    t.add_constraint("v_nonneg", "v >= 0")
    t.add_generated_column("v2", "v * 2")

    def check(step: str) -> None:
        kcol = "key" if "key" in t.snapshot().columns else "k"
        got = {r[kcol]: (r.v, r.v2) for r in t.snapshot().collect()}
        want = {k: (v, 2 * v) for k, v in model.items()}
        assert got == want, f"{step}: {sorted(set(got.items()) ^ set(want.items()))[:6]}"

    # v0 plain append (generated column computed)
    t.append(_rows(spark, range(0, 20), lambda k: k))
    model.update({k: k for k in range(0, 20)})
    check("append")

    # constraint rejects atomically
    with pytest.raises(ConstraintViolationError):
        t.append(_rows(spark, [99], lambda k: -1))
    check("constraint reject")

    # rename of a referenced column is blocked (Delta's rule)
    with pytest.raises(ValueError, match="referenced by"):
        t.rename_column("v", "val")
    # renaming the un-referenced key column is fine (metadata-only)
    t.rename_column("k", "key")
    assert set(t.snapshot().columns) == {"key", "v", "v2"}

    # hidden partitioning on the RENAMED column + partitioned append
    t.set_partition_spec(["bucket(2, key)"])
    t.append_partitioned(
        spark.createDataFrame([(k, k) for k in range(20, 40)], "key long, v long")
    )
    model.update({k: k for k in range(20, 40)})
    check("append_partitioned")
    # ...and now the spec pins key against a second rename
    with pytest.raises(ValueError, match="partition spec"):
        t.rename_column("key", "kk")

    # DV delete (v3): no file rewritten
    t.delete_where_dv("key % 10 = 9")
    for k in [9, 19, 29, 39]:
        model.pop(k)
    check("dv delete")

    t.tag("pre-merge")
    pre_merge_model = dict(model)

    # keyed MERGE (restate, clears DVs physically)
    updates = spark.createDataFrame(
        [(k, 100 + k, 2 * (100 + k)) for k in range(0, 5)], "key long, v long, v2 long"
    )
    t.merge(updates, key_cols=["key"])
    model.update({k: 100 + k for k in range(0, 5)})
    check("merge")

    # branch -> append -> fast-forward publish (WAP)
    t.create_branch("exp")
    t.branch_append(
        "exp",
        spark.createDataFrame(
            [(k, k, 2 * k) for k in range(100, 105)], "key long, v long, v2 long"
        ),
    )
    t.merge_branch("exp")
    model.update({k: k for k in range(100, 105)})
    check("branch fast-forward")

    # partial compaction of the merge commit's files (disjoint bin)
    merge_commit = next(c for c in t.history() if c.operation == "merge")
    t.compact_files(merge_commit.files)
    check("partial compact")

    # tag still reads the pre-merge state
    tagged = {r.key: r.v for r in t.snapshot(tag="pre-merge").collect()}
    assert tagged == pre_merge_model, "tag drifted"

    # restore to the tagged version, then roll forward again via merge
    t.restore(t.tags()["pre-merge"])
    got = {r.key: r.v for r in t.snapshot().collect()}
    assert got == pre_merge_model, "restore mismatch"
    t.merge(updates, key_cols=["key"])
    t.merge(
        spark.createDataFrame(
            [(k, k, 2 * k) for k in range(100, 105)], "key long, v long, v2 long"
        ),
        key_cols=["key"],
    )
    check("restore + roll forward")

    # vacuum (keeps tags pinned), then every reader surface must agree
    t.vacuum(keep_versions=2)
    check("vacuum")
    assert {r.key: r.v for r in t.snapshot(tag="pre-merge").collect()} == pre_merge_model

    # CDF initial load equals the live snapshot
    cdf = t.read_changes_cdf(-1)
    got_cdf = {r.key: (r.v, r.v2) for r in cdf.collect()}
    assert got_cdf == {k: (v, 2 * v) for k, v in model.items()}

    # clone (shallow) sees the same logical state and stays writable
    c = t.clone(str(tmp_path / "life_clone"), shallow=True)
    got_clone = {r.key: r.v for r in c.snapshot().collect()}
    assert got_clone == model
    c.append(spark.createDataFrame([(200, 1, 2)], "key long, v long, v2 long"))
    assert c.snapshot().count() == len(model) + 1
    assert t.snapshot().count() == len(model)  # source untouched

    # both format exports replay the exact live state
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    export_delta_log(spark, t)
    got_d = {r.key: (r.v, r.v2) for r in read_delta_log(spark, str(t.path)).collect()}
    assert got_d == {k: (v, 2 * v) for k, v in model.items()}, "delta replay"
    export_iceberg_metadata(spark, t)
    got_i = {r.key: (r.v, r.v2) for r in read_iceberg(spark, str(t.path)).collect()}
    assert got_i == {k: (v, 2 * v) for k, v in model.items()}, "iceberg replay"


def test_wave_ae_lifecycle(spark, tmp_path):
    """Second kitchen sink over the wave-AE features IN SEQUENCE:
    identity + clustering + incremental recluster + rename + merge
    schema evolution + dual export + vacuum + clone. Each step's
    state is checked against a model; the interactions are the test."""
    t = LakehouseTable(spark, str(tmp_path / "life2"))
    t.set_identity("rid")
    with pytest.raises(ValueError):
        t.set_identity("rid2", step=0)

    def xy(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"),
            (F.col("id") % 32).alias("x"),
            (F.col("id") / 32).cast("bigint").alias("y"),
        )

    t.append(xy(0, 1024).repartition(4), stats_cols=["x", "y"])
    t.hilbert_cluster(["x", "y"], target_partitions=4)  # restate keeps rids
    ids0 = sorted(r["rid"] for r in t.snapshot().collect())
    assert ids0 == list(range(1, 1025))  # clustering preserved every id

    t.append(xy(1024, 1536).repartition(2), stats_cols=["x", "y"])
    assert t.hilbert_cluster_incremental() is not None
    ids1 = sorted(r["rid"] for r in t.snapshot().collect())
    assert ids1 == list(range(1, 1537))  # incremental rewrite lost nothing

    t.rename_column("x", "x_coord")  # follows the clustering spec
    assert t.meta()["clustering"]["cols"] == ["x_coord", "y"]

    # merge with schema evolution: updates half the keys, adds a flag
    src = spark.range(0, 1536, 2).select(
        F.col("id").alias("k"), F.lit(1).alias("flag")
    )
    t.merge(src, key_cols=["k"], schema_evolution=True)
    snap = t.snapshot()
    assert set(snap.columns) == {"k", "x_coord", "y", "rid", "flag"}
    assert snap.where("flag = 1").count() == 768
    assert snap.where("k % 2 = 0 AND x_coord <> k % 32").count() == 0  # kept
    ids2 = sorted(r["rid"] for r in snap.collect())
    assert ids2 == list(range(1, 1537))  # merge preserved every matched id

    # another incremental recluster AFTER rename+evolution
    t.append(
        xy(1536, 1792).withColumnRenamed("x", "x_coord").repartition(2),
        stats_cols=["x_coord", "y"],
    )
    assert t.hilbert_cluster_incremental() is not None
    assert t.snapshot().count() == 1792

    # dual export replays equal (UniForm invariant) after ALL of it
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    export_delta_log(spark, t)
    export_iceberg_metadata(spark, t)
    via_d = read_delta_log(spark, str(t.path))
    via_i = read_iceberg(spark, str(t.path))
    for via in (via_d, via_i):
        assert via.count() == 1792
        assert sorted(r["rid"] for r in via.select("rid").collect()) == list(
            range(1, 1793)
        )
        assert "x_coord" in via.columns  # logical names through both protocols

    # vacuum then clone: identity high-water carries, appends continue
    t.vacuum(keep_versions=1)
    c = t.clone(str(tmp_path / "life2_clone"), shallow=True)
    c.append(
        spark.range(9000, 9010).select(
            F.col("id").alias("k"),
            (F.col("id") % 32).alias("x_coord"),
            F.lit(0).cast("bigint").alias("y"),
            F.lit(0).alias("flag"),
        )
    )
    ids3 = sorted(r["rid"] for r in c.snapshot().collect())
    assert ids3 == list(range(1, 1803))  # 1792 + 10, no collisions


def test_round9_operations_lifecycle_end_to_end(spark, tmp_path):
    """The 100 TB operations story, composed: a CAPPED snapshot-seeded
    CDF stream (maxVersionsPerTrigger) feeds a curated table through
    foreachBatch MERGE/delete; after each micro-batch the curated
    table exports incrementally to BOTH formats with lifecycle knobs
    (Iceberg expire+compact, Delta log retention). Asserts: curated ==
    source net state, both exports read back equal, and every
    metadata population is bounded — the per-micro-batch loop a real
    deployment runs."""
    import json as _json

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    src = LakehouseTable(spark, str(tmp_path / "src"))
    for i in range(5):  # backlog, incl. a restate (seed tolerates it)
        src.append(
            spark.range(i * 10, i * 10 + 4).select(
                F.col("id").alias("k"), (F.col("id") % 7).alias("v")
            )
        )
    src.delete_where("k % 10 = 2")
    cur = LakehouseTable(spark, str(tmp_path / "curated"))
    ck = str(tmp_path / "ck")

    def apply_batch(df, batch_id):
        rows = df.collect()
        ins = [(r["k"], r["v"]) for r in rows if r["_change_type"] == "insert"]
        dels = [r["k"] for r in rows if r["_change_type"] == "delete"]
        if ins:
            df_ins = spark.createDataFrame(ins, "k long, v long")
            if cur.latest_version() < 0:  # first batch: table is empty
                cur.append(df_ins)
            else:
                cur.merge(df_ins, ["k"])
        if dels:
            ks = ", ".join(str(k) for k in dels)
            cur.delete_where_dv(f"k IN ({ks})")
        export_iceberg_metadata(
            spark, cur, expire_keep_last=3, compact_manifests_above=4
        )
        export_delta_log(
            spark, cur, checkpoint_interval=3, log_retention_versions=4
        )

    def drain():
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(src.path))
            .option("startingMode", "snapshot")
            .option("maxVersionsPerTrigger", "2")
            .load()
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()  # seed
    # live tail: appends + a DV, then capped catch-up runs
    src.append(
        spark.range(100, 104).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
    )
    src.delete_where_dv("k = 101")
    src.append(
        spark.range(200, 202).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("v")
        )
    )
    for _ in range(6):
        drain()
    want = sorted(
        (r["k"], r["v"]) for r in src.snapshot().collect()
    )
    got = sorted((r["k"], r["v"]) for r in cur.snapshot().collect())
    assert got == want, "curated table diverged from the source net state"
    # both exports read back the same state
    ice = sorted(
        (r["k"], r["v"]) for r in read_iceberg(spark, str(cur.path)).collect()
    )
    dlt = sorted(
        (r["k"], r["v"])
        for r in read_delta_log(spark, str(cur.path)).collect()
    )
    assert ice == want and dlt == want
    # lifecycle knobs held: bounded metadata on BOTH export formats
    md = _json.loads(
        (cur.path / "metadata" / "v1.metadata.json").read_text()
    )
    assert len(md["snapshots"]) <= 3 + len(md["refs"])
    delta_jsons = [
        p for p in (cur.path / "_delta_log").glob("*.json") if p.stem.isdigit()
    ]
    assert len(delta_jsons) <= 4 + 3  # retention window + ckpt tail
