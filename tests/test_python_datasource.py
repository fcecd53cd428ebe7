"""Spark 4 Python DataSource (person_gen): batch partitioning,
record parity with the declarative generator, and stream
completeness across multi-chunk offset ranges."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lakehouse_test_spark.sources.python_datasource import register
from lakehouse_test_spark.sources.synthetic import person_stream


def test_batch_matches_declarative_generator(spark):
    register(spark)
    via_source = (
        spark.read.format("person_gen").option("n", 200).option("numPartitions", 4).load()
    )
    assert via_source.rdd.getNumPartitions() == 4
    declarative = person_stream(spark, 200)
    # custom-source columns are nullable; compare names + types
    assert [(f.name, f.dataType) for f in via_source.schema.fields] == [
        (f.name, f.dataType) for f in declarative.schema.fields
    ]
    assert via_source.exceptAll(declarative).count() == 0
    assert declarative.exceptAll(via_source).count() == 0


def test_stream_covers_full_range_in_chunks(spark):
    """Chunked partitions must cover the whole committed offset range
    (regression: clamping in partitions() dropped rows silently)."""
    register(spark)
    sdf = spark.readStream.format("person_gen").option("n", 57).option("rowsPerBatch", 10).load()
    q = (
        sdf.writeStream.format("memory")
        .queryName("pds_stream_cov")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT count(*) AS c, count(DISTINCT ba) AS d, min(ba) AS lo, max(ba) AS hi "
        "FROM pds_stream_cov"
    ).collect()[0]
    assert (got["c"], got["d"], got["lo"], got["hi"]) == (57, 57, 0, 56)


def test_batch_empty_and_single_row(spark):
    register(spark)
    assert spark.read.format("person_gen").option("n", 0).load().count() == 0
    one = spark.read.format("person_gen").option("n", 1).load().collect()
    assert len(one) == 1 and one[0]["ba"] == 0 and one[0]["age"] == 18


def test_cdf_stream_source_replays_commits(spark, tmp_path):
    """The lakehouse_cdf streaming source replays appends as inserts
    and DV commits as deletes, with commit versions as offsets."""
    import uuid

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import register
    from lakehouse_test_spark.sources.synthetic import person_stream

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "cdfsrc"))
    t.append(person_stream(spark, 40))
    t.append(person_stream(spark, 20).withColumn("ba", F.col("ba") + 100))
    n_young = t.snapshot().where("age < 30").count()
    t.delete_where_dv("age < 30")

    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.table(name)
    counts = {
        (r["_change_type"], r["_commit_version"]): r["count"]
        for r in out.groupBy("_change_type", "_commit_version").count().collect()
    }
    assert counts[("insert", 0)] == 40
    assert counts[("insert", 1)] == 20
    assert counts[("delete", 2)] == n_young
    # replayed snapshot == inserts minus deletes
    ins = {r.ba for r in out.where("_change_type='insert'").select("ba").collect()}
    dels = {r.ba for r in out.where("_change_type='delete'").select("ba").collect()}
    live = {r.ba for r in t.snapshot().select("ba").collect()}
    assert ins - dels == live


def test_cdf_stream_source_raises_on_restate(spark, tmp_path):
    """A full-rewrite commit in the offset range must fail the stream
    (the Delta CDF contract), not silently duplicate rows."""
    import uuid

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import register
    from lakehouse_test_spark.sources.synthetic import person_stream

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "cdfsrc2"))
    t.append(person_stream(spark, 30))
    t.delete_where("age < 25")  # full rewrite

    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    import pyspark.errors

    with pytest.raises(pyspark.errors.exceptions.captured.StreamingQueryException):
        q.awaitTermination()


def test_cdf_stream_source_vacuumed_files_raise_descriptively(spark, tmp_path):
    """A commit range referencing vacuumed data files must fail in
    partitions() with the VacuumHorizonError contract, not surface as
    a raw pyarrow FileNotFoundError inside read()."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import LakehouseCDFStreamReader
    from lakehouse_test_spark.sources.synthetic import person_stream

    t = LakehouseTable(spark, str(tmp_path / "cdfvac"))
    t.append(person_stream(spark, 20))  # v0
    t.append(person_stream(spark, 10))  # v1
    t.compact()  # v2 restate (dataChange=false)
    t.vacuum(keep_versions=1)  # v0/v1 data files are gone

    reader = LakehouseCDFStreamReader({"path": str(t.path)})
    with pytest.raises(RuntimeError, match="VacuumHorizonError"):
        reader.partitions({"version": -1}, {"version": 1})


def test_cdf_stream_reader_pins_schema_and_nullfills(spark, tmp_path):
    """read() replays older-schema files into the pinned column list
    (null-filling missing columns) and raises when a file carries a
    column the pinned schema lacks."""
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import LakehouseCDFStreamReader
    from lakehouse_test_spark.sources.synthetic import person_stream

    t = LakehouseTable(spark, str(tmp_path / "cdfschema"))
    t.append(person_stream(spark, 5))  # v0: base schema
    t.append(person_stream(spark, 3).withColumn("extra", F.lit(7)))  # v1: evolved

    base_cols = [f.name for f in person_stream(spark, 1).schema.fields]
    # pinned at the EVOLVED schema: v0 files null-fill "extra"
    reader = LakehouseCDFStreamReader({"path": str(t.path)}, base_cols + ["extra"])
    parts = reader.partitions({"version": -1}, {"version": 0})
    rows = [r for p in parts for r in reader.read(p)]
    assert len(rows) == 5
    extra_idx = len(base_cols)
    assert all(r[extra_idx] is None for r in rows)

    # pinned at the OLD schema: an evolved file cannot be replayed
    narrow = LakehouseCDFStreamReader({"path": str(t.path)}, base_cols)
    parts = narrow.partitions({"version": 0}, {"version": 1})
    with pytest.raises(RuntimeError, match="pinned schema"):
        for p in parts:
            list(narrow.read(p))


# -- batch snapshot datasource (format("lakehouse")) ------------------------


@pytest.fixture()
def lh_table(spark, tmp_path):
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "dsbatch"))
    t.append(
        spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        stats_cols=["k"],
    )
    t.append(
        spark.range(100, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ),
        stats_cols=["k"],
    )
    return t


def _load(spark, path, **opts):
    r = spark.read.format("lakehouse").option("path", str(path))
    for k, v in opts.items():
        r = r.option(k, str(v))
    return r.load()


def test_batch_datasource_matches_snapshot(spark, lh_table):
    got = {(r.k, r.v) for r in _load(spark, lh_table.path).collect()}
    want = {(r.k, r.v) for r in lh_table.snapshot().collect()}
    assert got == want and len(got) == 200


def test_batch_datasource_time_travel_refs(spark, lh_table):
    from pyspark.sql import functions as F

    lh_table.tag("t0", 0)
    # option form and @-suffix form resolve identically
    assert _load(spark, lh_table.path, versionAsOf=0).count() == 100
    assert _load(spark, f"{lh_table.path}@v0").count() == 100
    assert _load(spark, f"{lh_table.path}@tag:t0").count() == 100
    ts = lh_table.history()[0].ts
    assert _load(spark, lh_table.path, timestampAsOf=ts).count() in (100, 200)
    lh_table.create_branch("exp")
    lh_table.branch_append(
        "exp",
        spark.range(900, 905).select(
            F.col("k") if False else F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
        ),
    )
    assert _load(spark, f"{lh_table.path}@branch:exp").count() == 205
    b = {r.k for r in lh_table.snapshot_branch("exp").collect()}
    got = {r.k for r in _load(spark, lh_table.path, branch="exp").collect()}
    assert got == b


def test_batch_datasource_applies_dvs_and_renames(spark, lh_table):
    from pyspark.sql import functions as F

    lh_table.delete_where_dv("k = 7")
    lh_table.rename_column("v", "vv")
    lh_table.append(
        spark.range(200, 250).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("vv")
        ),
        stats_cols=["k"],
    )
    df = _load(spark, lh_table.path)
    assert df.columns == ["k", "vv"]
    got = {(r.k, r.vv) for r in df.collect()}
    want = {(r.k, r.vv) for r in lh_table.snapshot().collect()}
    assert got == want
    assert len(got) == 249 and (7, 14) not in got


def test_batch_datasource_schema_evolution_nullfills(spark, lh_table):
    from pyspark.sql import functions as F

    lh_table.append(
        spark.range(200, 220).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.lit("x").alias("extra"),
        )
    )
    df = _load(spark, lh_table.path)
    assert set(df.columns) == {"k", "v", "extra"}
    assert df.where(F.col("extra").isNull()).count() == 200
    assert df.where(F.col("extra") == "x").count() == 20


def test_batch_datasource_zone_map_pruning_skips_files(spark, lh_table):
    """pushFilters prunes partitions through commit-log stats: a
    range predicate covering only commit 2's keys must plan fewer
    input partitions than the live file count."""
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        LessThanOrEqual,
    )

    from lakehouse_test_spark.sources.lakehouse_datasource import (
        LakehouseSnapshotReader,
        _SnapshotState,
    )

    st = _SnapshotState({"path": str(lh_table.path)})
    rd = LakehouseSnapshotReader(st)
    unsupported = list(
        rd.pushFilters(
            [GreaterThanOrEqual(("k",), 150), LessThanOrEqual(("k",), 160)]
        )
    )
    assert len(unsupported) == 2, "all filters must be re-applied by Spark"
    kept = rd.partitions()
    assert 0 < len(kept) < len(st.files), (len(kept), len(st.files))
    # and the full-scan reader keeps everything
    rd_all = LakehouseSnapshotReader(_SnapshotState({"path": str(lh_table.path)}))
    assert len(rd_all.partitions()) == len(st.files)
    # end-to-end: the pruned SQL result is still exact
    from lakehouse_test_spark.sources.lakehouse_datasource import register_table

    register_table(spark, str(lh_table.path), "prune_probe")
    n = spark.sql(
        "SELECT count(*) AS n FROM prune_probe WHERE k BETWEEN 150 AND 160"
    ).collect()[0].n
    assert n == 11


def test_register_table_snapshot_isolation(spark, lh_table):
    """A registered name pins the snapshot resolved at registration
    (snapshot isolation from concurrent commits); re-registering
    advances to the new head."""
    from pyspark.sql import functions as F

    from lakehouse_test_spark.sources.lakehouse_datasource import register_table

    register_table(spark, str(lh_table.path), "livetab")
    assert spark.sql("SELECT count(*) AS n FROM livetab").collect()[0].n == 200
    lh_table.append(
        spark.range(200, 230).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    assert spark.sql("SELECT count(*) AS n FROM livetab").collect()[0].n == 200
    register_table(spark, str(lh_table.path), "livetab")
    assert spark.sql("SELECT count(*) AS n FROM livetab").collect()[0].n == 230


# -- write path: df.write.format("lakehouse") -------------------------------


def test_batch_writer_append_and_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "w1")
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    df.write.format("lakehouse").option("path", path).option("stats", "k").mode(
        "append"
    ).save()
    spark.range(100, 150).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    ).write.format("lakehouse").option("path", path).mode("append").save()
    t = LakehouseTable(spark, path)
    assert t.snapshot().count() == 150 and t.latest_version() == 1
    # harvested zone maps serve scan_pruned
    _, scanned, total = t.scan_pruned("k", 5, 9)
    assert scanned < total
    # overwrite = restate commit; time travel preserved
    spark.range(7).select(F.col("id").alias("k"), F.lit(0).alias("v")).write.format(
        "lakehouse"
    ).option("path", path).mode("overwrite").save()
    assert t.snapshot().count() == 7
    assert t.snapshot(version=1).count() == 150
    assert t.history()[-1].restate


def test_batch_writer_maps_logical_to_physical(spark, tmp_path):
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "w2")
    t = LakehouseTable(spark, path)
    t.append(spark.range(5).select(F.col("id").alias("a")))
    t.rename_column("a", "b")
    spark.range(5, 10).select(F.col("id").alias("b")).write.format(
        "lakehouse"
    ).option("path", path).mode("append").save()
    assert sorted(r.b for r in t.snapshot().collect()) == list(range(10))
    assert pq.read_schema([str(t.path / f) for _c, f in t.pin().files][-1]).names == ["a"]


def test_batch_writer_refuses_enforced_features(spark, tmp_path):
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    path = str(tmp_path / "w3")
    t = LakehouseTable(spark, path)
    t.add_constraint("k_pos", "k >= 0")
    t.append(spark.range(5).select(F.col("id").alias("k")))
    with pytest.raises(Exception, match="constraints"):
        spark.range(5).select(F.col("id").alias("k")).write.format(
            "lakehouse"
        ).option("path", path).mode("append").save()
    assert t.latest_version() == 0  # nothing landed


def test_stream_writer_exactly_once_replay(spark, tmp_path):
    import os
    import shutil

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register
    from lakehouse_test_spark.streaming.jobs import _ckpt

    register(spark)
    src = tmp_path / "src"
    for b in range(3):
        spark.range(b * 100, (b + 1) * 100).select(
            F.col("id").alias("k")
        ).coalesce(1).write.parquet(str(src / f"b{b}"))
        for p in (src / f"b{b}").rglob("*.parquet"):
            os.utime(p, (1_700_000_000 + b,) * 2)
    tgt = str(tmp_path / "tgt")

    def run():
        ck = _ckpt()
        try:
            q = (
                spark.readStream.schema("k bigint")
                .option("maxFilesPerTrigger", "1")
                .parquet(str(src) + "/*")
                .writeStream.format("lakehouse")
                .option("path", tgt)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ck, ignore_errors=True)

    run()
    t = LakehouseTable(spark, tgt)
    assert t.snapshot().count() == 300
    assert [c.operation for c in t.history()] == [
        "stream-append-b0",
        "stream-append-b1",
        "stream-append-b2",
    ]
    # full replay from a FRESH checkpoint: batch-id dedup must hold
    run()
    assert t.snapshot().count() == 300 and len(t.history()) == 3


def test_unified_stream_reader_snapshot_then_follow(spark, tmp_path):
    """readStream.format("lakehouse"): the Delta streaming-source
    semantic — append history replays as plain rows (rename mapping
    applied), a DV commit fails the stream unless ignoreDeletes=true
    skips it."""
    import shutil

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.lakehouse_datasource import register
    from lakehouse_test_spark.streaming.jobs import _ckpt

    register(spark)
    p = str(tmp_path / "srt")
    t = LakehouseTable(spark, p)
    t.append(spark.range(0, 50).select(F.col("id").alias("k")))
    t.rename_column("k", "kk")
    t.append(spark.range(50, 80).select(F.col("id").alias("kk")))

    def drain(name, **opts):
        ck = _ckpt()
        try:
            r = spark.readStream.format("lakehouse").option("path", p)
            for k, v in opts.items():
                r = r.option(k, v)
            q = (
                r.load()
                .writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        return spark.table(name)

    got = sorted(r.kk for r in drain("sr_a").collect())
    assert got == list(range(80))

    t.delete_where_dv("kk = 5")
    t.append(spark.range(80, 85).select(F.col("id").alias("kk")))
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        drain("sr_b")
    assert drain("sr_c", ignoreDeletes="true").count() == 85


def test_datasource_respects_vacuum_horizon(spark, lh_table):
    from lakehouse_test_spark.plans.lakehouse import VacuumHorizonError

    lh_table.compact(target_partitions=1)
    lh_table.vacuum(keep_versions=1)
    with pytest.raises((VacuumHorizonError, Exception), match="[Hh]orizon|vacuum"):
        _load(spark, lh_table.path, versionAsOf=0).count()
    # latest still reads
    assert _load(spark, lh_table.path).count() == 200


def test_datasource_reads_cloned_table_absolute_paths(spark, lh_table, tmp_path):
    """Shallow clones reference absolute source paths; the datasource
    must scan them (and their DVs) like the native reader."""
    lh_table.delete_where_dv("k = 3")
    c = lh_table.clone(str(tmp_path / "ds_clone"))
    got = {r.k for r in _load(spark, tmp_path / "ds_clone").collect()}
    want = {r.k for r in c.snapshot().collect()}
    assert got == want and 3 not in got and len(got) == 199


def test_register_table_native_engine(spark, lh_table):
    """engine="native" serves the view through the JVM snapshot scan
    — same rows as the datasource engine, including time travel."""
    from lakehouse_test_spark.sources.lakehouse_datasource import register_table

    lh_table.tag("t0", 0)
    register_table(spark, str(lh_table.path), "nat_all", engine="native")
    register_table(
        spark, str(lh_table.path), "nat_v0", engine="native", versionAsOf=0
    )
    register_table(spark, f"{lh_table.path}@tag:t0", "nat_tag", engine="native")
    register_table(spark, str(lh_table.path), "ds_all")  # datasource twin
    a = {tuple(r) for r in spark.sql("SELECT k, v FROM nat_all").collect()}
    b = {tuple(r) for r in spark.sql("SELECT k, v FROM ds_all").collect()}
    assert a == b and len(a) == 200
    assert spark.sql("SELECT count(*) n FROM nat_v0").collect()[0].n == 100
    assert spark.sql("SELECT count(*) n FROM nat_tag").collect()[0].n == 100
    # native plan is a JVM parquet scan (no Python datasource node)
    plan = spark.sql("SELECT * FROM nat_all WHERE k > 10")._jdf.queryExecution().executedPlan().toString()
    assert "PythonScan" not in plan and "Scan parquet" in plan


def test_starting_version_option(spark, tmp_path):
    """Delta's startingVersion on both streaming sources: begin the
    replay at a chosen commit instead of the table's birth."""
    import shutil

    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import register as reg_cdf
    from lakehouse_test_spark.sources.lakehouse_datasource import register
    from lakehouse_test_spark.streaming.jobs import _ckpt

    register(spark)
    reg_cdf(spark)
    p = str(tmp_path / "sv")
    t = LakehouseTable(spark, p)
    for b in range(3):
        t.append(spark.range(b * 10, (b + 1) * 10).select(F.col("id").alias("k")))

    def drain(fmt, name, **opts):
        ck = _ckpt()
        try:
            r = spark.readStream.format(fmt).option("path", p)
            for k, v in opts.items():
                r = r.option(k, v)
            q = (
                r.load()
                .writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            shutil.rmtree(ck, ignore_errors=True)
        return spark.table(name).count()

    assert drain("lakehouse_cdf", "sv_a") == 30
    assert drain("lakehouse_cdf", "sv_b", startingVersion="1") == 20
    assert drain("lakehouse", "sv_c", startingVersion="2") == 10
    assert drain("lakehouse", "sv_d", startingVersion="earliest") == 30


def test_plain_stream_skip_change_commits(spark, tmp_path):
    """skipChangeCommits (Delta's modern flag, round 10): the plain
    stream emits ONLY appended data — a data-changing restate plans
    empty and a DV commit's delete partitions are dropped, instead of
    failing the stream; post-restate appends still flow, exactly-once
    across the checkpoint. The CDF surface REJECTS the flag (a change
    feed that skipped a rewrite would be wrong by definition)."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import (
        register as register_cdf,
    )
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    register_cdf(spark)
    t = LakehouseTable(spark, str(tmp_path / "skipcc"))
    t.append(spark.range(4).select(F.col("id").alias("k")))  # v0
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("lakehouse")
            .option("path", str(t.path))
            .option("skipChangeCommits", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_once()  # v0 emitted
    t.delete_where("k = 1")  # v1: data-changing restate — skipped
    t.append(spark.range(100, 102).select(F.col("id").alias("k")))  # v2
    t.delete_where_dv("k = 100")  # v3: DV — skipped
    t.append(spark.range(200, 202).select(F.col("id").alias("k")))  # v4
    for _ in range(4):
        run_once()
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    # appends only: v0 + v2 + v4 rows, restate/DV never re-emit or
    # un-emit anything
    assert got == [0, 1, 2, 3, 100, 101, 200, 201]
    # idle re-run: no duplicates
    run_once()
    assert sorted(r["k"] for r in spark.read.parquet(out).collect()) == got
    # the change feed refuses the flag, loudly, at load()
    with pytest.raises(Exception, match="plain-stream"):
        (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("skipChangeCommits", "true")
            .load()
        )
