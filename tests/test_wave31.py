"""Wave AE units: MERGE schema evolution, identity columns, cogroup
UDF, bucketed joins — the contracts the gate queries can't see."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.operators.ordering import block_row_number
from lakehouse_test_spark.plans.lakehouse import (
    ConstraintViolationError,
    LakehouseTable,
)


def _t(spark):
    return LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_w31_"))


# -- MERGE schema evolution -------------------------------------------------


def test_merge_evolution_rejected_without_flag(spark):
    t = _t(spark)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    src = spark.createDataFrame([(1, "b", 9)], "k int, v string, extra int")
    with pytest.raises(Exception):  # unionByName column mismatch
        t.merge(src, key_cols=["k"])


def test_merge_evolution_update_preserves_target_only_columns(spark):
    t = _t(spark)
    t.append(spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "k int, v string, kept int"))
    # source lacks `kept`, adds `extra`
    src = spark.createDataFrame([(1, "A", 7), (3, "C", 8)], "k int, v string, extra int")
    t.merge(src, key_cols=["k"], schema_evolution=True)
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert set(t.snapshot().columns) == {"k", "v", "kept", "extra"}
    assert rows[1]["v"] == "A" and rows[1]["kept"] == 10 and rows[1]["extra"] == 7
    assert rows[2]["v"] == "b" and rows[2]["kept"] == 20 and rows[2]["extra"] is None
    assert rows[3]["v"] == "C" and rows[3]["kept"] is None and rows[3]["extra"] == 8


def test_merge_evolution_ignore_mode_adds_column(spark):
    t = _t(spark)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    src = spark.createDataFrame([(1, "x", 1), (2, "y", 2)], "k int, v string, extra int")
    t.merge(src, key_cols=["k"], when_matched="ignore", schema_evolution=True)
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows[1]["v"] == "a" and rows[1]["extra"] is None  # target won
    assert rows[2]["extra"] == 2


def test_merge_evolution_missing_key_raises(spark):
    t = _t(spark)
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    with pytest.raises(ValueError, match="key columns"):
        t.merge(
            spark.createDataFrame([("a",)], "v string"),
            key_cols=["k"],
            schema_evolution=True,
        )


# -- identity columns --------------------------------------------------------


def test_identity_unique_and_continuous_across_multipartition_appends(spark):
    t = _t(spark)
    t.set_identity("rid", start=1, step=1)
    a = spark.range(0, 500).select(F.col("id").alias("k")).repartition(32)
    b = spark.range(500, 800).select(F.col("id").alias("k")).repartition(32)
    t.append(a)
    t.append(b)
    got = t.snapshot().select("rid").collect()
    ids = sorted(r["rid"] for r in got)
    assert ids == list(range(1, 801))  # dense, unique, high-water continues
    # time travel: v0 holds exactly the first allocation block
    v0 = sorted(r["rid"] for r in t.snapshot(0).collect())
    assert v0 == list(range(1, 501))


def test_identity_generated_always_rejects_supplied_values(spark):
    t = _t(spark)
    t.set_identity("rid")
    df = spark.createDataFrame([(1, 99)], "k int, rid bigint")
    with pytest.raises(ConstraintViolationError, match="GENERATED ALWAYS"):
        t.append(df)


def test_identity_step_and_start(spark):
    t = _t(spark)
    t.set_identity("rid", start=1000, step=-10)
    t.append(spark.createDataFrame([(i,) for i in range(5)], "k int"))
    ids = sorted((r["rid"] for r in t.snapshot().collect()), reverse=True)
    assert ids == [1000, 990, 980, 970, 960]
    with pytest.raises(ValueError):
        t.set_identity("rid2", step=0)
    with pytest.raises(ValueError):
        t.set_identity("rid")  # already declared


def test_identity_branch_appends_allocate_disjoint_ranges(spark):
    t = _t(spark)
    t.set_identity("rid")
    t.append(spark.createDataFrame([(1,), (2,)], "k int"))
    t.create_branch("wip")
    t.branch_append("wip", spark.createDataFrame([(3,)], "k int"))
    t.append(spark.createDataFrame([(4,)], "k int"))
    t.merge_branch("wip")
    ids = sorted(r["rid"] for r in t.snapshot().collect())
    assert ids == [1, 2, 3, 4]  # no collision between branch and main


# -- block_row_number ---------------------------------------------------------


def test_block_row_number_dense_unique_no_shuffle(spark):
    df = spark.range(0, 1000).repartition(16)
    out, n = block_row_number(df, "rn")
    assert n == 1000
    vals = sorted(r["rn"] for r in out.collect())
    assert vals == list(range(1, 1001))
    # plan must move no data: no hash/range shuffle (the broadcast
    # of the P-row offsets table and the source's own repartition
    # are the only exchanges)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_block_row_number_empty_frame(spark):
    df = spark.range(0).select(F.col("id"))
    out, n = block_row_number(df, "rn")
    assert n == 0 and out.count() == 0


def test_identity_merge_preserves_matched_allocates_inserts(spark):
    """Delta identity x MERGE interplay: matched rows keep their
    generated ids, inserted rows draw fresh ids from the high-water
    mark; a later append continues above both."""
    t = _t(spark)
    t.set_identity("rid")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    ids_v0 = {r["k"]: r["rid"] for r in t.snapshot().collect()}
    src = spark.createDataFrame([(2, "B"), (3, "C")], "k int, v string")
    t.merge(src, key_cols=["k"])
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows[2]["rid"] == ids_v0[2]  # matched keeps its id
    assert rows[1]["rid"] == ids_v0[1]  # untouched keeps its id
    assert rows[3]["rid"] == 3  # fresh allocation continues
    t.append(spark.createDataFrame([(4, "d")], "k int, v string"))
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows[4]["rid"] == 4
    assert len({r["rid"] for r in rows.values()}) == 4  # all unique


def test_identity_merge_with_schema_evolution(spark):
    """identity x autoMerge: the identity column is pulled/allocated
    BEFORE evolution computes target-only columns, so ids never read
    NULL through the evolved union."""
    t = _t(spark)
    t.set_identity("rid")
    t.append(spark.createDataFrame([(1, "a")], "k int, v string"))
    src = spark.createDataFrame([(1, "A", 7), (2, "B", 8)], "k int, v string, extra int")
    t.merge(src, key_cols=["k"], schema_evolution=True)
    rows = {r["k"]: r for r in t.snapshot().collect()}
    assert rows[1]["rid"] == 1 and rows[1]["extra"] == 7
    assert rows[2]["rid"] == 2 and rows[2]["extra"] == 8
    assert set(t.snapshot().columns) == {"k", "v", "rid", "extra"}


def test_identity_clone_carries_high_water(spark):
    """identity x CLONE: both clone flavors carry the identity spec
    WITH its allocated counter — appends on the clone continue above
    the source's ids instead of re-minting from the start."""
    t = _t(spark)
    t.set_identity("rid")
    t.append(spark.createDataFrame([(1,), (2,), (3,)], "k int"))
    for shallow in (True, False):
        c = t.clone(tempfile.mkdtemp(prefix="lh_w31_clone_"), shallow=shallow)
        c.append(spark.createDataFrame([(9,)], "k int"))
        ids = sorted(r["rid"] for r in c.snapshot().collect())
        assert ids == [1, 2, 3, 4], f"shallow={shallow}: {ids}"


# -- convert_from_parquet -----------------------------------------------------


def test_convert_adopts_files_in_place_and_layers_features(spark, tmp_path):
    src = str(tmp_path / "plain")
    spark.range(0, 100).selectExpr("id AS k", "id * 2.0 AS v").repartition(
        4
    ).write.parquet(src)
    t = LakehouseTable(spark, str(tmp_path / "tbl"))
    c = t.convert_from_parquet(src, stats_cols=["k"])
    assert c.operation == "convert" and c.row_count == 100
    # no data was copied: table dir holds no parquet of its own yet
    assert not list((t.path / "data").rglob("*.parquet")) if (t.path / "data").exists() else True
    assert t.snapshot().count() == 100
    # features layer on top: DV delete + append + time travel
    t.delete_where_dv("k % 10 = 0")
    t.append(spark.range(100, 120).selectExpr("id AS k", "id * 2.0 AS v"))
    assert t.snapshot().count() == 100 - 10 + 20
    assert t.snapshot(0).count() == 100  # v0 = as-converted
    # vacuum never touches the external source files
    t.vacuum(keep_versions=1)
    assert t.snapshot().count() == 110


def test_convert_rejects_hive_layout_and_nonempty_table(spark, tmp_path):
    src = str(tmp_path / "hive")
    spark.range(0, 10).selectExpr("id AS k", "id % 2 AS p").write.partitionBy(
        "p"
    ).parquet(src)
    t = LakehouseTable(spark, str(tmp_path / "tbl2"))
    with pytest.raises(ValueError, match="hive-partitioned"):
        t.convert_from_parquet(src)
    t2 = LakehouseTable(spark, str(tmp_path / "tbl3"))
    t2.append(spark.range(3).selectExpr("id AS k"))
    flat = str(tmp_path / "flat")
    spark.range(3).selectExpr("id AS k").write.parquet(flat)
    with pytest.raises(ValueError, match="not empty"):
        t2.convert_from_parquet(flat)


# -- incremental Hilbert clustering (liquid-clustering maintenance) ----------


def _xy(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("bigint").alias("y"),
    )


def test_hilbert_incremental_rewrites_only_new_files(spark):
    t = _t(spark)
    t.append(_xy(spark, 0, 4096).repartition(8, "id"), stats_cols=["x", "y"])
    t.hilbert_cluster(["x", "y"], target_partitions=8)
    base_files = {f for _c, f in t.pin().files}
    # two fresh appends land unclustered
    t.append(_xy(spark, 4096, 5120).repartition(4, "id"), stats_cols=["x", "y"])
    t.append(_xy(spark, 5120, 6144).repartition(4, "id"), stats_cols=["x", "y"])
    new_raw = {f for _c, f in t.pin().files} - base_files
    c = t.hilbert_cluster_incremental()
    assert c is not None and c.operation == "hilbert_cluster_incr"
    assert c.data_change is False
    assert set(c.removed_files) == new_raw  # exactly the new files rewritten
    live = {f for _c, f in t.pin().files}
    assert base_files <= live  # previously clustered files untouched
    assert not (new_raw & live)  # raw appends superseded
    assert t.snapshot().count() == 6144
    # box scan still prunes, including over the incremental files
    got, scanned, total = t.scan_pruned_box({"x": (0, 7), "y": (0, 7)})
    assert scanned < total
    assert got.where("id < 4096").count() == len(
        [i for i in range(4096) if i % 64 <= 7 and i // 64 <= 7]
    )
    # nothing new -> no-op
    assert t.hilbert_cluster_incremental() is None


def test_hilbert_incremental_requires_full_cluster_and_no_dvs(spark):
    t = _t(spark)
    t.append(_xy(spark, 0, 256), stats_cols=["x", "y"])
    with pytest.raises(ValueError, match="run hilbert_cluster first"):
        t.hilbert_cluster_incremental()
    t.hilbert_cluster(["x", "y"], target_partitions=2)
    t.append(_xy(spark, 256, 512))
    t.delete_where_dv("id = 300")
    with pytest.raises(ValueError, match="deletion vectors"):
        t.hilbert_cluster_incremental()


def test_hilbert_incremental_after_rename(spark):
    """clustering x rename interplay: the stored clustering cols are
    LOGICAL names; incremental reclustering after a rename must
    resolve them through the mapping in both directions."""
    t = _t(spark)
    t.append(_xy(spark, 0, 1024).repartition(4, "id"), stats_cols=["x", "y"])
    t.hilbert_cluster(["x", "y"], target_partitions=4)
    t.rename_column("x", "xx")
    # rename_column follows the clustering spec automatically
    assert t._read_meta()["clustering"]["cols"] == ["xx", "y"]
    t.append(
        _xy(spark, 1024, 2048).withColumnRenamed("x", "xx").repartition(4, "id"),
        stats_cols=["xx", "y"],
    )
    c = t.hilbert_cluster_incremental()
    assert c is not None
    assert t.snapshot().count() == 2048
    got, scanned, total = t.scan_pruned_box({"xx": (0, 7), "y": (0, 7)})
    assert scanned < total and got.count() > 0


def test_delta_export_carries_identity_metadata(spark):
    """identity x Delta export: schemaString field metadata carries
    delta.identity.start/step/highWaterMark so a Delta writer resumes
    allocation where we stopped."""
    import json
    from pathlib import Path

    from lakehouse_test_spark.plans.delta_export import export_delta_log

    t = _t(spark)
    t.set_identity("rid", start=10, step=2)
    t.append(spark.createDataFrame([(1,), (2,), (3,)], "k int"))
    export_delta_log(spark, t)
    log = sorted((Path(t.path) / "_delta_log").glob("*.json"))[0]
    meta = next(
        json.loads(l)["metaData"]
        for l in log.read_text().splitlines()
        if "metaData" in l
    )
    fld = next(
        f
        for f in json.loads(meta["schemaString"])["fields"]
        if f["name"] == "rid"
    )
    md = fld["metadata"]
    assert md["delta.identity.start"] == 10
    assert md["delta.identity.step"] == 2
    assert md["delta.identity.highWaterMark"] == 14  # 10, 12, 14 allocated
    assert md["delta.identity.allowExplicitInsert"] is False


def test_convert_then_dual_export_replays_equal(spark, tmp_path):
    """convert x export interplay: a CONVERTED table references data
    files OUTSIDE the table directory by absolute path; both protocol
    exports must still plan and replay them (plus a DV and a normal
    append on top)."""
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    src = str(tmp_path / "plain")
    spark.range(0, 200).selectExpr("id AS k", "id * 1.5 AS v").repartition(
        3
    ).write.parquet(src)
    t = LakehouseTable(spark, str(tmp_path / "conv"))
    t.convert_from_parquet(src, stats_cols=["k"])
    t.delete_where_dv("k % 10 = 0")
    t.append(spark.range(200, 260).selectExpr("id AS k", "id * 1.5 AS v"))
    want = 200 - 20 + 60

    export_delta_log(spark, t)
    export_iceberg_metadata(spark, t)
    via_d = read_delta_log(spark, str(t.path))
    via_i = read_iceberg(spark, str(t.path))
    assert via_d.count() == want
    assert via_i.count() == want
    assert via_d.agg(F.sum("k")).first()[0] == via_i.agg(F.sum("k")).first()[0]


def test_convert_then_incremental_cluster(spark, tmp_path):
    """convert x clustering interplay: full cluster restates the
    converted (external) files into the table dir; a later append +
    incremental recluster must remove exactly the new files."""
    src = str(tmp_path / "plain2")
    spark.range(0, 512).selectExpr(
        "id AS k", "id % 16 AS x", "CAST(id / 16 AS BIGINT) AS y"
    ).repartition(2).write.parquet(src)
    t = LakehouseTable(spark, str(tmp_path / "conv2"))
    t.convert_from_parquet(src, stats_cols=["x", "y"])
    t.hilbert_cluster(["x", "y"], target_partitions=4)
    base = {f for _c, f in t.pin().files}
    t.append(
        spark.range(512, 640).selectExpr(
            "id AS k", "id % 16 AS x", "CAST(id / 16 AS BIGINT) AS y"
        ),
        stats_cols=["x", "y"],
    )
    new_raw = {f for _c, f in t.pin().files} - base
    c = t.hilbert_cluster_incremental()
    assert c is not None and set(c.removed_files) == new_raw
    assert t.snapshot().count() == 640


def test_merge_clause_matrix_against_reference_model(spark):
    """Exhaustive MERGE semantics check: every (when_matched,
    insert_new, sync_delete_unmatched) combination x five source
    shapes (disjoint / subset / superset / overlap / empty), each
    compared to a pure-Python reference model of the Delta clause
    semantics. Catches clause-interaction regressions the individual
    gates can't."""
    target = {0: 10, 1: 11, 2: 12, 3: 13}
    sources = {
        "disjoint": {7: 107, 8: 108},
        "subset": {1: 101, 2: 102},
        "superset": {0: 100, 1: 101, 2: 102, 3: 103, 4: 104},
        "overlap": {2: 102, 3: 103, 9: 109},
        "empty": {},
    }

    def ref(tgt, src, wm, insert_new, sync):
        out = dict(tgt)
        if sync:  # WHEN NOT MATCHED BY SOURCE THEN DELETE
            out = {k: v for k, v in out.items() if k in src}
        for k, v in src.items():
            if k in tgt:  # matched
                if wm == "update":
                    out[k] = v
                elif wm == "delete":
                    out.pop(k, None)
                # ignore: target wins
            elif insert_new:  # WHEN NOT MATCHED THEN INSERT
                out[k] = v
        return set(out.items())

    for sname, src in sources.items():
        for wm in ("update", "delete", "ignore"):
            for insert_new in (True, False):
                for sync in (False, True):
                    want = ref(target, src, wm, insert_new, sync)
                    t = _t(spark)
                    t.append(
                        spark.createDataFrame(
                            list(target.items()), "k int, v int"
                        )
                    )
                    sdf = spark.createDataFrame(
                        list(src.items()) or [(None, None)], "k int, v int"
                    ).where("k IS NOT NULL")
                    label = f"{sname}/{wm}/insert={insert_new}/sync={sync}"
                    try:
                        t.merge(
                            sdf,
                            key_cols=["k"],
                            when_matched=wm,
                            insert_new=insert_new,
                            sync_delete_unmatched=sync,
                        )
                    except Exception as ex:
                        if not want:
                            continue  # emptying the table may refuse; fine
                        raise AssertionError(f"{label}: raised {ex}") from ex
                    got = {(r["k"], r["v"]) for r in t.snapshot().collect()}
                    assert got == want, f"{label}: {got} != {want}"


def test_streaming_sink_into_identity_table(spark, sf_dir):
    """streaming x identity interplay: a foreachBatch lakehouse sink
    appending micro-batches into an identity table allocates unique,
    continuous ids across batches."""
    import shutil

    from lakehouse_test_spark.streaming.jobs import _ckpt, events_stream

    t = _t(spark)
    t.set_identity("rid")

    def sink(batch_df, _epoch):
        if batch_df.count():
            t.append(batch_df.select("event_id", "user_id"), operation="stream")

    ck = _ckpt()
    q = (
        events_stream(spark, sf_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ck)
        .option("maxFilesPerTrigger", "1")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    shutil.rmtree(ck, ignore_errors=True)
    n = t.snapshot().count()
    ids = sorted(r["rid"] for r in t.snapshot().select("rid").collect())
    assert n > 0 and ids == list(range(1, n + 1))


def test_threaded_append_with_retry_loses_nothing(spark):
    """Optimistic-concurrency smoke under REAL thread interleaving:
    4 writers x 5 appends race on the commit log via append, which
    rebases over concurrent commits; every row must land exactly once and the log
    must be a gap-free version chain."""
    import threading

    t = _t(spark)
    errs = []

    def writer(wid: int):
        try:
            for i in range(5):
                df = spark.createDataFrame(
                    [(wid * 100 + i, wid)], "k int, writer int"
                )
                t.append(df)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    assert t.latest_version() == 19  # 20 commits, gap-free
    rows = t.snapshot().collect()
    assert len(rows) == 20
    assert len({r["k"] for r in rows}) == 20  # exactly once each


def test_threaded_identity_appends_never_collide(spark):
    """identity x concurrency: allocation serializes on the metadata
    mutex, so racing writers mint disjoint id ranges even though the
    ids are assigned BEFORE the commit-version race is resolved."""
    import threading

    t = _t(spark)
    t.set_identity("rid")
    errs = []

    def writer(wid: int):
        try:
            for i in range(3):
                df = spark.createDataFrame([(wid * 10 + i,)], "k int")
                t.append(df)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    ids = sorted(r["rid"] for r in t.snapshot().collect())
    # uniqueness is the identity contract; density is NOT — a commit
    # race loser retries the whole append and its first allocation
    # block is burned (gaps on retry, same as Delta identity)
    assert len(ids) == 12 and len(set(ids)) == 12, ids


def test_merge_evolution_type_conflict_is_loud(spark):
    """autoMerge adds NEW columns; it does NOT silently widen or cast
    a same-name column whose type conflicts (Delta requires the
    typeWidening feature for that). The failure must be loud, never a
    silent coercion."""
    t = _t(spark)
    t.append(spark.createDataFrame([(1, 10)], "k int, v int"))
    src = spark.createDataFrame([(1, "not-an-int")], "k int, v string")
    with pytest.raises(Exception):
        t.merge(src, key_cols=["k"], schema_evolution=True)
    # table unchanged after the failed merge
    assert [(r["k"], r["v"]) for r in t.snapshot().collect()] == [(1, 10)]
