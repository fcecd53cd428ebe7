"""Lakehouse maintenance surface: VACUUM retention, bloom-filter
point-lookup skipping, and write-side CHECK constraints."""

from __future__ import annotations

import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import (
    ConstraintViolationError,
    LakehouseTable,
    RestateAcrossCursorError,
    VacuumHorizonError,
)


@pytest.fixture()
def table(spark):
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_maint_"))
    yield t
    t.drop()


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_vacuum_deletes_superseded_files_only(spark, table):
    table.append(_df(spark, 0, 100))
    table.append(_df(spark, 100, 200))
    table.compact(target_partitions=1)  # v2 restate supersedes v0/v1
    table.append(_df(spark, 200, 300))  # v3
    n_before = len(list(Path(table.path).rglob("*.parquet")))
    out = table.vacuum(keep_versions=2)  # horizon = v2
    assert out["deleted"] > 0
    n_after = len(list(Path(table.path).rglob("*.parquet")))
    assert n_after < n_before
    # live snapshot intact
    assert table.snapshot().count() == 300
    # retained version still time-travels
    assert table.snapshot(version=2).count() == 200
    # pre-horizon time travel fails cleanly, not mid-scan
    with pytest.raises(VacuumHorizonError):
        table.snapshot(version=1)
    # history (the log) is still auditable
    assert len(table.history()) == 4


def test_vacuum_keeps_files_shared_with_live_versions(spark, table):
    table.append(_df(spark, 0, 100))  # v0 — still live (no restate)
    table.append(_df(spark, 100, 200))  # v1
    table.vacuum(keep_versions=1)  # horizon = v1, but v1's live set includes v0 files
    assert table.snapshot().count() == 200


def test_read_changes_after_vacuum_raises(spark, table):
    table.append(_df(spark, 0, 100))
    table.append(_df(spark, 100, 200))
    table.compact(target_partitions=1)
    table.vacuum(keep_versions=1)
    with pytest.raises((VacuumHorizonError, RestateAcrossCursorError)):
        table.read_changes(0).count()


def test_bloom_point_lookup_skips_files(spark, table):
    # three appends with disjoint key ranges -> three file sets
    for lo in (0, 1000, 2000):
        table.append(
            _df(spark, lo, lo + 500).repartition(2), bloom_cols=["k"]
        )
    df, scanned, total = table.scan_point("k", 1234)
    assert total == 6
    assert scanned < total, "bloom should skip most files"
    rows = df.collect()
    assert len(rows) == 1 and rows[0].k == 1234 and rows[0].v == 2468
    # absent key: typically all files skipped (m=8192, n=250/file)
    df2, scanned2, _ = table.scan_point("k", 99_999_999)
    assert df2.count() == 0
    assert scanned2 <= 1  # allow a rare FP on one file


def test_bloom_survives_in_commit_log(spark, table):
    table.append(_df(spark, 0, 100), bloom_cols=["k"])
    reopened = LakehouseTable(spark, str(table.path))
    df, scanned, total = reopened.scan_point("k", 50)
    assert df.count() == 1


def test_constraint_rejects_bad_write_atomically(spark, table):
    table.add_constraint("v_nonneg", "v >= 0")
    table.append(_df(spark, 0, 50))
    bad = spark.range(5).select(F.col("id").alias("k"), F.lit(-1).alias("v"))
    with pytest.raises(ConstraintViolationError):
        table.append(bad)
    # nothing landed: row count and version unchanged
    assert table.snapshot().count() == 50
    assert table.latest_version() == 0
    # merge path is gated too
    with pytest.raises(ConstraintViolationError):
        table.merge(bad, key_cols=["k"])
    assert table.latest_version() == 0


def test_constraint_cannot_be_born_violated(spark, table):
    table.append(_df(spark, 0, 50))
    with pytest.raises(ConstraintViolationError):
        table.add_constraint("impossible", "v > 1000000")
    assert table.constraints() == {}


def test_constraints_persist_across_reopen(spark, table):
    table.add_constraint("k_nonneg", "k >= 0")
    reopened = LakehouseTable(spark, str(table.path))
    assert reopened.constraints() == {"k_nonneg": "k >= 0"}
    bad = spark.range(3).select((F.col("id") - 10).alias("k"), F.col("id").alias("v"))
    with pytest.raises(ConstraintViolationError):
        reopened.append(bad)


# ---------------------------------------------------------------------------
# join IVM (maintain_join)
# ---------------------------------------------------------------------------


def _recompute_join(a, b, on):
    full = a.snapshot().join(b.snapshot(), on)
    return {
        tuple(r)
        for r in full.groupBy(*full.columns).agg(F.count(F.lit(1)).alias("m")).collect()
    }


def _target_rows(t):
    return {tuple(r) for r in t.snapshot().collect()}


def test_join_ivm_tracks_full_recompute(spark):
    """Appends and DV-deletes on BOTH sides, maintained incrementally,
    must equal a full recompute of the join after every call."""
    from lakehouse_test_spark.plans.lakehouse import maintain_join

    a = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_a_"))
    b = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_b_"))
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_t_"))
    try:
        ca = cb = -1
        a.append(
            spark.range(0, 20).select(
                (F.col("id") % 5).alias("k"), F.col("id").alias("av")
            )
        )
        b.append(
            spark.range(0, 10).select(
                (F.col("id") % 5).alias("k"), (F.col("id") * 100).alias("bv")
            )
        )
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        assert _target_rows(t) == _recompute_join(a, b, ["k"])

        # delta on the left only
        a.append(
            spark.range(20, 30).select(
                (F.col("id") % 5).alias("k"), F.col("id").alias("av")
            )
        )
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        assert _target_rows(t) == _recompute_join(a, b, ["k"])

        # delta on the right + DV-delete on the left in the same window
        b.append(
            spark.range(10, 14).select(
                (F.col("id") % 5).alias("k"), (F.col("id") * 100).alias("bv")
            )
        )
        a.delete_where_dv("av % 3 = 0")
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        assert _target_rows(t) == _recompute_join(a, b, ["k"])

        # DV-delete on the right; some join keys vanish entirely
        b.delete_where_dv("k >= 3")
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        assert _target_rows(t) == _recompute_join(a, b, ["k"])

        # no-op window
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        assert _target_rows(t) == _recompute_join(a, b, ["k"])
    finally:
        a.drop()
        b.drop()
        t.drop()


def test_join_ivm_rebuilds_after_restate(spark):
    """A full-rewrite delete (restate) across the cursor triggers the
    rebuild path and still lands on the recompute."""
    from lakehouse_test_spark.plans.lakehouse import maintain_join

    a = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_a2_"))
    b = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_b2_"))
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_t2_"))
    try:
        ca = cb = -1
        a.append(spark.range(0, 12).select((F.col("id") % 4).alias("k"), F.col("id").alias("av")))
        b.append(spark.range(0, 8).select((F.col("id") % 4).alias("k"), (F.col("id") * 10).alias("bv")))
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        # restating rewrite (predicate delete) breaks CDF continuity
        a.delete_where("av >= 6")
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        assert _target_rows(t) == _recompute_join(a, b, ["k"])
    finally:
        a.drop()
        b.drop()
        t.drop()


# ---------------------------------------------------------------------------
# TIMESTAMP AS OF time travel
# ---------------------------------------------------------------------------


def test_timestamp_time_travel_and_restore(spark, table):
    import time

    table.append(_df(spark, 0, 100))
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    table.append(_df(spark, 100, 250))

    # snapshot as of the instant between the commits sees only v0
    assert table.snapshot(timestamp=t_mid).count() == 100
    assert table.snapshot(timestamp=time.time()).count() == 250
    assert table.version_at_timestamp(t_mid) == 0

    # predating the table is an explicit error
    with pytest.raises(ValueError):
        table.snapshot(timestamp=t_mid - 3600)
    with pytest.raises(ValueError):
        table.snapshot(version=1, timestamp=t_mid)

    # RESTORE ... TIMESTAMP AS OF
    table.restore(timestamp=t_mid)
    assert table.snapshot().count() == 100
    # pre-restore lineage still time-travels by version
    assert table.snapshot(version=1).count() == 250


def test_history_tolerates_pre_timestamp_logs(spark, table):
    """Logs written before the ts field read back as ts=None and are
    simply not timestamp-addressable."""
    import json
    from pathlib import Path

    table.append(_df(spark, 0, 10))
    p = sorted(Path(table.path, "_log").glob("*.json"))[0]
    d = json.loads(p.read_text())
    d.pop("ts", None)
    p.write_text(json.dumps(d))
    h = table.history()
    assert h[0].ts is None
    with pytest.raises(ValueError):
        table.version_at_timestamp(0)


# ---------------------------------------------------------------------------
# generated columns
# ---------------------------------------------------------------------------


def test_generated_column_computed_when_absent(spark, table):
    table.add_generated_column("v2", "v * 2")
    table.append(_df(spark, 0, 10))
    rows = {r["k"]: r for r in table.snapshot().collect()}
    assert all(r["v2"] == r["v"] * 2 for r in rows.values())
    assert table.generated_columns() == {"v2": "v * 2"}


def test_generated_column_validates_when_present(spark, table):
    table.add_generated_column("v2", "v * 2")
    good = _df(spark, 0, 5).withColumn("v2", F.col("v") * 2)
    table.append(good)
    bad = _df(spark, 5, 10).withColumn("v2", F.col("v") * 3)
    v_before = table.latest_version()
    with pytest.raises(ConstraintViolationError):
        table.append(bad)
    assert table.latest_version() == v_before  # atomic: nothing committed
    assert table.snapshot().count() == 5


def test_generated_column_persists_across_reopen(spark, table):
    table.add_generated_column("v2", "v * 2")
    reopened = LakehouseTable(spark, str(table.path))
    reopened.append(_df(spark, 0, 3))
    assert all(r["v2"] == r["v"] * 2 for r in reopened.snapshot().collect())


def test_join_ivm_rebuilds_after_vacuum_horizon(spark):
    """Vacuuming the right table past the IVM cursor destroys the
    B_old time-travel snapshot; maintenance must detect it and
    rebuild from current snapshots instead of failing."""
    from lakehouse_test_spark.plans.lakehouse import maintain_join

    a = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_a3_"))
    b = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_b3_"))
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_t3_"))
    try:
        ca = cb = -1
        a.append(spark.range(0, 10).select((F.col("id") % 3).alias("k"), F.col("id").alias("av")))
        b.append(spark.range(0, 6).select((F.col("id") % 3).alias("k"), (F.col("id") * 10).alias("bv")))
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        # advance B twice with restates so vacuum can drop the old version
        b.delete_where("bv >= 40")      # restate v1
        b.append(spark.range(6, 8).select((F.col("id") % 3).alias("k"), (F.col("id") * 10).alias("bv")))
        b.vacuum(keep_versions=1)       # horizon beyond cb=0
        ca, cb = maintain_join(spark, a, b, t, ["k"], ca, cb)
        full = a.snapshot().join(b.snapshot(), ["k"])
        expect = {
            tuple(r)
            for r in full.groupBy(*full.columns).agg(F.count(F.lit(1)).alias("m")).collect()
        }
        assert {tuple(r) for r in t.snapshot().collect()} == expect
    finally:
        a.drop()
        b.drop()
        t.drop()


def test_optimize_advisor_recommendations(spark, table):
    from lakehouse_test_spark.plans.lakehouse import optimize_advisor

    # fragmented: many tiny files
    for i in range(4):
        table.append(_df(spark, i * 100, (i + 1) * 100).repartition(4))
    rec = optimize_advisor(table)
    assert rec["n_live_files"] >= 8
    assert rec["recommendation"] == "compact"
    table.compact(target_partitions=1)
    rec2 = optimize_advisor(table)
    assert rec2["recommendation"] in ("healthy", "vacuum")
    # heavy DV shadowing flips the recommendation
    table.delete_where_dv("v < 300")  # 75% of rows
    rec3 = optimize_advisor(table)
    assert rec3["dv_shadowed_fraction"] > 0.2
    assert rec3["recommendation"] == "rewrite_dvs"


def test_partition_evolution_prunes_new_spec_only(spark, table):
    """After the spec evolves, an equality lookup on the partition
    column must skip every other partition's NEW-spec files while
    keeping ALL old-spec files (no stats for the new column — skipping
    them would be unsafe; Iceberg's evolved-spec contract)."""
    old = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("bucket")
    )
    table.append(old)  # pre-evolution era, no bucket stats
    old_files = len(table.history()[-1].files)
    table.set_partition_spec(["bucket"])
    new = spark.range(300, 600).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("bucket")
    )
    c = table.append_partitioned(new)
    # one-partition-value-per-file: every new file has min == max
    for f in c.files:
        lo, hi = c.stats[f]["bucket"]
        assert lo == hi
    df, scanned, total = table.scan_pruned("bucket", 1, 1)
    new_files = len(c.files)
    bucket1_files = sum(1 for f in c.files if c.stats[f]["bucket"][0] == 1)
    assert total == old_files + new_files
    assert scanned == old_files + bucket1_files, "non-bucket-1 new files must skip"
    assert bucket1_files < new_files
    # value-exactness: residual predicate keeps the scan row-correct
    assert df.count() == 200  # 100 old + 100 new rows with bucket == 1


def test_partition_spec_history_versioned(spark, table):
    table.append(spark.range(5).select(F.col("id").alias("k"), F.lit(0).alias("b")))
    table.set_partition_spec(["b"])
    table.set_partition_spec(["b", "k"])
    meta_specs = table._read_meta()["partition_specs"]
    assert [s["spec_id"] for s in meta_specs] == [0, 1]
    assert table.partition_spec() == ["b", "k"]
    with pytest.raises(ValueError):
        LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_nospec_")).append_partitioned(
            spark.range(1).select(F.col("id").alias("k"))
        )


def test_column_rename_metadata_only(spark, table):
    """Rename must not rewrite files; both vintages surface one
    logical column; chained renames apply in order; time travel also
    shows logical names (current-metadata semantics, like Delta)."""
    from pathlib import Path

    table.append(spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v")))
    files_before = sorted(str(p) for p in Path(table.path).rglob("*.parquet"))
    table.rename_column("v", "v_usd")
    assert sorted(str(p) for p in Path(table.path).rglob("*.parquet")) == files_before
    table.append(spark.range(50, 100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v_usd")))
    snap = table.snapshot()
    assert set(snap.columns) == {"k", "v_usd"}
    assert snap.where(F.col("v_usd").isNull()).count() == 0
    assert snap.agg(F.sum("v_usd")).collect()[0][0] == sum(2 * i for i in range(100))
    # chained rename
    table.rename_column("v_usd", "v_eur")
    assert set(table.snapshot().columns) == {"k", "v_eur"}
    # time travel surfaces logical names too
    assert set(table.snapshot(version=0).columns) == {"k", "v_eur"}


def test_tags_immutable_and_resolve(spark, table):
    table.append(spark.range(10).select(F.col("id").alias("k")))
    v = table.tag("v1.0")
    table.append(spark.range(10, 30).select(F.col("id").alias("k")))
    assert table.snapshot(tag="v1.0").count() == 10
    assert table.tags() == {"v1.0": v}
    with pytest.raises(ValueError):
        table.tag("v1.0")  # immutable
    with pytest.raises(ValueError):
        table.snapshot(tag="nope")
    with pytest.raises(ValueError):
        table.tag("future", version=99)


def test_branch_isolation_and_fast_forward(spark, table):
    table.append(spark.range(10).select(F.col("id").alias("k")))
    table.create_branch("dev")
    table.branch_append("dev", spark.range(10, 25).select(F.col("id").alias("k")))
    assert table.snapshot().count() == 10          # isolation
    assert table.snapshot_branch("dev").count() == 25
    assert table.branch_head("dev") == table.latest_version() + 1
    head = table.merge_branch("dev")
    assert table.snapshot().count() == 25          # published
    assert head == table.latest_version()
    assert table.branches() == {}
    # time travel across the merge boundary still works
    assert table.snapshot(version=0).count() == 10


def test_branch_merge_rebases_divergence(spark, table):
    """Main advancing past the fork no longer refuses the merge:
    append-only branch commits commute, so they rebase onto the new
    head (previously this raised; see also
    test_merge_branch_rebases_over_advanced_main)."""
    table.append(spark.range(5).select(F.col("id").alias("k")))
    table.create_branch("dev")
    table.branch_append("dev", spark.range(5, 8).select(F.col("id").alias("k")))
    table.append(spark.range(8, 12).select(F.col("id").alias("k")))  # main advances
    # branch readable and isolated pre-merge
    assert table.snapshot_branch("dev").count() == 8
    with pytest.raises(ValueError):
        table.create_branch("dev")
    v = table.merge_branch("dev")
    assert v == 2  # rebased past main's v1
    assert sorted(r.k for r in table.snapshot().collect()) == list(range(12))


def test_drop_branch_reclaims_only_branch_files(spark, table):
    from pathlib import Path

    table.append(spark.range(10).select(F.col("id").alias("k")))
    n_main = len(list(Path(table.path).rglob("*.parquet")))
    table.create_branch("scratch")
    table.branch_append("scratch", spark.range(10, 40).select(F.col("id").alias("k")))
    assert len(list(Path(table.path).rglob("*.parquet"))) > n_main
    deleted = table.drop_branch("scratch")
    assert deleted > 0
    assert len(list(Path(table.path).rglob("*.parquet"))) == n_main
    assert table.branches() == {}
    assert table.snapshot().count() == 10  # main untouched


def test_commit_protocol_ignores_stray_tmp_files(spark, table):
    """Crash safety: a writer that died between tmp-write and rename
    leaves a .tmp- file in the log dir — readers must ignore it, and
    the next commit must succeed normally."""
    from pathlib import Path

    table.append(spark.range(10).select(F.col("id").alias("k")))
    stray = Path(table.log_dir) / ".tmp-deadbeef"
    stray.write_text('{"garbage": tru')  # torn partial write
    assert table.latest_version() == 0
    assert table.snapshot().count() == 10
    assert len(table.history()) == 1
    table.append(spark.range(10, 15).select(F.col("id").alias("k")))
    assert table.snapshot().count() == 15


def test_hidden_partition_month_prunes_and_hides(spark, table):
    import pyarrow.parquet as pq
    from pathlib import Path

    df = spark.sql(
        "SELECT id AS k, date_add(DATE'2024-01-01', CAST(id % 120 AS INT)) AS d "
        "FROM range(0, 600)"
    )
    table.set_partition_spec(["month(d)"])
    c = table.append_partitioned(df)
    months = sorted({v[0] for v in (s["month(d)"] for s in c.stats.values())})
    assert months == ["2024-01", "2024-02", "2024-03", "2024-04"]
    # hidden: the derived value is in the LOG only, not in the files
    any_file = next(iter(c.stats))
    cols = pq.ParquetFile(str(Path(table.path) / any_file)).schema_arrow.names
    assert "__p0" not in cols and "month(d)" not in cols
    _df, scanned, total = table.scan_pruned_hidden("month(d)", "2024-02", "2024-02")
    feb = sum(1 for s in c.stats.values() if s["month(d)"][0] == "2024-02")
    assert scanned == feb and scanned < total
    assert _df.where("d >= DATE'2024-02-01' AND d < DATE'2024-03-01'").count() == \
        df.where("d >= DATE'2024-02-01' AND d < DATE'2024-03-01'").count()


def test_hidden_partition_bucket_point_lookup(spark, table):
    df = spark.range(0, 400).selectExpr("id AS k", "id * 3 AS v")
    table.set_partition_spec(["bucket(4, k)"])
    c = table.append_partitioned(df)
    assert len(c.files) >= 4
    b = table.bucket_of("bucket(4, k)", 123)
    _df, scanned, total = table.scan_pruned_hidden("bucket(4, k)", b, b)
    assert scanned < total
    assert _df.where("k = 123").count() == 1


def test_hidden_partition_truncate_ranges(spark, table):
    df = spark.range(0, 1000).selectExpr("id AS k")
    table.set_partition_spec(["truncate(250, k)"])
    c = table.append_partitioned(df)
    starts = sorted({s["truncate(250, k)"][0] for s in c.stats.values()})
    assert starts == [0, 250, 500, 750]
    _df, scanned, total = table.scan_pruned_hidden("truncate(250, k)", 500, 500)
    assert scanned < total and _df.where("k BETWEEN 500 AND 749").count() == 250


def test_partial_compaction_remove_file_semantics(spark, table):
    from pathlib import Path

    for lo in range(0, 80, 20):
        table.append(
            spark.range(lo, lo + 20).select(F.col("id").alias("k")),
        )
    before = table.snapshot().orderBy("k").collect()
    live_before = {f for _c, f in table.pin().files}
    # compact the first two commits' files into one replacement
    subset = sorted(f for c in table.history()[:2] for f in c.files)
    c = table.compact_files(subset)
    assert c.removed_files == subset and not c.data_change and not c.restate
    # logical rows unchanged, replaced files no longer live
    assert table.snapshot().orderBy("k").collect() == before
    live_after = {f for _c, f in table.pin().files}
    assert not (live_after & set(subset))
    assert len(live_after) == len(live_before) - len(subset) + len(c.files)
    # time travel below the compaction still reads the original files
    assert table.snapshot(version=1).count() == 40
    # incremental readers skip the rewrite entirely
    assert table.read_changes(since_version=3).count() == 0
    assert table.read_changes_cdf(since_version=3).count() == 0
    # CDF initial load equals the snapshot (no duplicated rows)
    assert table.read_changes_cdf(since_version=-1).count() == 80
    # vacuum past the horizon reclaims the replaced files
    table.vacuum(keep_versions=1)
    for f in subset:
        assert not (Path(table.path) / f).exists()
    assert table.snapshot().orderBy("k").collect() == before


def test_partial_compaction_guards(spark, table):
    table.append(spark.range(10).select(F.col("id").alias("k")))
    with pytest.raises(ValueError, match="not live"):
        table.compact_files(["data/nope/part-x.parquet"])
    table.delete_where_dv("k = 3")
    live = [f for _c, f in table.pin().files]
    with pytest.raises(ValueError, match="deletion vectors"):
        table.compact_files(live[:1])


def test_exports_emit_partial_rewrite(spark, table):
    """Both format exports must represent a compact_files commit:
    Delta as RemoveFile actions (replay == native live set at every
    version), Iceberg as a rewritten manifest (replayed rows == native
    snapshot before and after the rewrite)."""
    from pathlib import Path

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        replay_live_files,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        _snapshot_id,
        export_iceberg_metadata,
        read_iceberg,
    )

    for lo in range(0, 60, 20):
        table.append(spark.range(lo, lo + 20).select(F.col("id").alias("k")))
    subset = sorted(f for c in table.history()[:2] for f in c.files)
    table.compact_files(subset)  # v3 partial rewrite

    export_delta_log(spark, table)
    for v in range(table.latest_version() + 1):
        native = sorted(
            str(p.relative_to(table.path)) for p in map(Path, [table.path / f for _c, f in table.pin(v).files])
        )
        assert replay_live_files(str(table.path), v) == native, f"delta v{v}"

    export_iceberg_metadata(spark, table)
    for v in range(table.latest_version() + 1):
        got = read_iceberg(spark, str(table.path), _snapshot_id(v))
        want = table.snapshot(version=v)
        assert got.exceptAll(want).count() == 0, f"iceberg v{v}: extra"
        assert want.exceptAll(got).count() == 0, f"iceberg v{v}: missing"


# -- round-4 ADVICE regressions -----------------------------------------------


def test_vacuum_keeps_open_branch_files(spark, table):
    """Vacuum while a branch is open must keep (a) the branch's own
    data files (reachable only from the branch log) and (b) the
    fork-version live set the branch reads under."""
    table.append(_df(spark, 0, 100))  # v0
    fork = table.create_branch("wap")
    table.branch_append("wap", _df(spark, 1000, 1050))
    table.compact(target_partitions=1)  # v1 restate supersedes v0 on main
    table.append(_df(spark, 100, 200))  # v2
    table.vacuum(keep_versions=1)
    # branch still fully readable: fork live set + branch commits
    assert table.snapshot_branch("wap").count() == 150
    # fork version itself still time-travels (pinned by the open branch)
    assert table.snapshot(version=fork).count() == 100
    table.drop_branch("wap")


def test_vacuum_retains_tagged_snapshots(spark, table):
    """Iceberg retains tag-referenced snapshots during expiration:
    a tag pinned below the horizon keeps its data files and stays
    readable; untagged pre-horizon versions still raise."""
    table.append(_df(spark, 0, 100))  # v0
    table.append(_df(spark, 100, 150))  # v1
    table.tag("audit-2026q1", 0)
    table.compact(target_partitions=1)  # v2
    table.append(_df(spark, 150, 200))  # v3
    table.vacuum(keep_versions=1)
    assert table.snapshot(tag="audit-2026q1").count() == 100
    assert table.snapshot(version=0).count() == 100  # pinned by the tag
    with pytest.raises(VacuumHorizonError):
        table.snapshot(version=1)  # untagged, below horizon


def test_scan_pruned_sees_renamed_column(spark, table):
    """scan_pruned must coalesce physical->logical names like
    snapshot/scan_pruned_hidden: after rename_column, a pruned scan
    filtering on the LOGICAL name spans both file vintages."""
    table.append(_df(spark, 0, 100), stats_cols=["k"])
    table.rename_column("k", "key")
    post = spark.range(100, 200).select(
        F.col("id").alias("key"), (F.col("id") * 2).alias("v")
    )
    table.append(post, stats_cols=["key"])
    df, scanned, total = table.scan_pruned("key", 50, 149)
    assert df.count() == 100
    assert sorted(r.key for r in df.where("key < 52").collect()) == [50, 51]


def test_scan_pruned_handles_null_partition_stats(spark, table):
    """A NULL partition value records [None, None] stats; pruned scans
    must treat that as no-stats (keep the file), not TypeError."""
    table.set_partition_spec(["p"])
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id INT, p STRING"
    )
    table.append_partitioned(df)
    out, scanned, total = table.scan_pruned("p", "a", "a")
    assert [r.id for r in out.collect()] == [1]
    # the NULL-partition file must have been kept (scan-safe), so
    # scanned counts it even though the residual filter drops its row
    assert scanned >= 2


def test_bucket_of_string_matches_writer(spark, table):
    """bucket(N, col) point lookups on STRING columns must hash the
    writer's type: a BIGINT-cast probe hashes NULL and probes the
    wrong bucket."""
    table.set_partition_spec(["bucket(8, name)"])
    names = [(i, f"user-{i}") for i in range(40)]
    table.append_partitioned(spark.createDataFrame(names, "id INT, name STRING"))
    # probe must equal the bucket Spark's writer derived for the value
    want = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit("user-7")), F.lit(8)).cast("int").alias("b"))
        .collect()[0]["b"]
    )
    b = table.bucket_of("bucket(8, name)", "user-7")
    assert b == want
    out, scanned, total = table.scan_pruned_hidden("bucket(8, name)", b, b)
    assert scanned < total, "bucket pruning should skip other buckets"
    assert "user-7" in {r.name for r in out.collect()}


def test_clone_carries_table_metadata(spark, tmp_path):
    """CLONE must carry the table metadata, not just the files:
    column-mapping renames (shallow clones reference PHYSICAL-named
    source files — without the mapping the clone surfaces physical
    names), partition-spec history (re-based to the clone's log), and
    generated columns; constraints were already covered."""
    import tempfile

    src = LakehouseTable(spark, str(tmp_path / "clsrc"))
    src.append(spark.range(10).select(F.col("id").alias("v")))
    src.rename_column("v", "v_usd")
    src.add_constraint("pos", "v_usd >= 0")
    src.add_generated_column("v2", "v_usd * 2")
    src.append(
        spark.range(10, 20).select(
            F.col("id").alias("v_usd"), (F.col("id") * 2).alias("v2")
        )
    )
    src.set_partition_spec(["bucket(2, v_usd)"])

    for shallow in (True, False):
        dst = src.clone(str(tmp_path / f"cl_{shallow}"), shallow=shallow)
        snap = dst.snapshot()
        assert set(snap.columns) == {"v_usd", "v2"}, (shallow, snap.columns)
        assert snap.where(F.col("v_usd").isNull()).count() == 0
        assert dst.partition_spec() == ["bucket(2, v_usd)"]
        assert dst.generated_columns() == {"v2": "v_usd * 2"}
        # the clone is immediately writable under its metadata:
        # generated column computed, spec honored, logical names kept
        dst.append_partitioned(spark.range(20, 24).select(F.col("id").alias("v_usd")))
        assert dst.snapshot().count() == 24
        assert dst.snapshot().where("v2 <> v_usd * 2").count() == 0
        # partition pruning works on the clone's new files
        out, scanned, total = dst.scan_pruned_hidden(
            "bucket(2, v_usd)", dst.bucket_of("bucket(2, v_usd)", 21),
            dst.bucket_of("bucket(2, v_usd)", 21),
        )
        assert 21 in {r.v_usd for r in out.collect()}


def test_merge_branch_rebases_over_advanced_main(spark, tmp_path):
    """Append-only branch commits commute with main history, so a
    branch merge REBASES when main advanced past the fork (renumbered
    onto the new head) instead of refusing; the final snapshot holds
    both lines' rows and time travel stays consistent."""
    t = LakehouseTable(spark, str(tmp_path / "br_rebase"))
    t.append(spark.range(10).select(F.col("id").alias("k")))  # v0 fork
    t.create_branch("exp")
    t.branch_append("exp", spark.range(100, 105).select(F.col("id").alias("k")))
    t.append(spark.range(10, 20).select(F.col("id").alias("k")))  # main v1
    t.delete_where("k = 15")  # even a restate on main commutes  # v2
    v = t.merge_branch("exp")
    assert v == 3  # branch commit renumbered onto the new head
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == sorted(set(range(20)) - {15} | set(range(100, 105)))
    # pre-merge main versions unchanged by the rebase
    assert t.snapshot(version=2).count() == 19
    assert t.branches() == {}


def test_scan_point_after_rename_probes_all_bloom_vintages(spark, table):
    """The r4 judge's repro: blooms recorded before rename_column live
    under the OLD logical key; scan_point by the new name must probe
    both vintages AND read pre-rename files with mergeSchema +
    rename coalescing (the exact fix scan_pruned already got)."""
    table.append(_df(spark, 0, 500).repartition(2), bloom_cols=["k"])
    table.rename_column("k", "kk")
    table.append(
        _df(spark, 1000, 1500)
        .withColumnRenamed("k", "kk")
        .repartition(2),
        bloom_cols=["kk"],
    )
    # probe a PRE-rename key by the new logical name
    df, scanned, total = table.scan_point("kk", 42)
    assert total == 4
    assert scanned < total, "post-rename files should bloom-skip"
    rows = df.collect()
    assert len(rows) == 1 and rows[0].kk == 42 and rows[0].v == 84
    # and a post-rename key
    df2, _, _ = table.scan_point("kk", 1234)
    assert [r.kk for r in df2.collect()] == [1234]


def test_scan_point_ignores_compacted_away_files(spark, table):
    """compact_files supersedes its bin via removed_files; scan_point
    built from raw commit.files would scan BOTH the superseded files
    and the rewrite and silently return duplicates."""
    table.append(_df(spark, 0, 500).repartition(2), bloom_cols=["k"])
    table.append(_df(spark, 500, 1000).repartition(2), bloom_cols=["k"])
    table.compact_files(list(table.history()[0].files))
    df, scanned, total = table.scan_point("k", 42)
    rows = df.collect()
    assert len(rows) == 1, f"duplicate rows from superseded files: {rows}"
    assert rows[0].v == 84
    # the live set is 2 original + 1 rewrite = 3 files
    assert total == 3


def test_meta_mutex_breaks_stale_lock_of_dead_process(spark, table):
    """A crashed holder must not wedge the table: a lock stamped with
    a dead pid is broken instead of spinning to TimeoutError."""
    lock = Path(table.path) / ".meta.lock"
    lock.write_text("999999999")  # pid far above pid_max → dead
    with table._meta_mutex(timeout=5.0):
        pass  # acquired by breaking the stale lock
    assert not lock.exists()


def test_meta_mutex_respects_live_holder(spark, table):
    """A lock held by a LIVE process is never broken."""
    import os

    lock = Path(table.path) / ".meta.lock"
    lock.write_text(str(os.getpid()))  # we are alive
    with pytest.raises(TimeoutError):
        with table._meta_mutex(timeout=0.3):
            pass
    lock.unlink()


def test_publish_put_if_absent_is_atomic(spark, table):
    """Two writers publishing the same version: exactly one wins even
    without a pre-check (os.link raises EEXIST in the kernel; rename
    would silently clobber the earlier commit)."""
    from lakehouse_test_spark.plans.lakehouse import (
        Commit,
        ConcurrentModificationError,
    )

    table.append(_df(spark, 0, 10))
    c = table.history()[0]
    loser = Commit(
        version=c.version,
        files=[],
        row_count=0,
        operation="restate",
        restate=True,  # a plain append would rebase instead
    )
    with pytest.raises(ConcurrentModificationError):
        table._publish(loser)
    # the put itself refuses the taken version, with no pre-check
    assert not table._put_if_absent(loser, table._commit_path(c.version))
    # the original commit file is intact (not clobbered)
    assert table.history()[0].files == c.files
    assert not list(Path(table.log_dir).glob(".tmp-*"))


# -- DROP COLUMN + type widening ------------------------------------------


def test_drop_column_is_logical_and_readd_gets_fresh_identity(spark, table):
    table.append(
        spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    table.drop_column("v")
    assert table.snapshot().columns == ["k"]
    # data files untouched (logical drop)
    import pyarrow.parquet as pq

    f = [str(table.path / f) for _c, f in table.pin().files][0]
    assert "v" in pq.read_schema(f).names
    # re-add: fresh identity — old values must NOT resurrect
    table.append(
        spark.range(50, 60).select(F.col("id").alias("k"), F.lit(9).alias("v"))
    )
    rows = {(r.k, r.v) for r in table.snapshot().collect()}
    assert all(v is None for k, v in rows if k < 50)
    assert all(v == 9 for k, v in rows if k >= 50)
    # physical identity is fresh in the new files
    newest = [str(table.path / f) for _c, f in table.pin().files][-1]
    names = pq.read_schema(newest).names
    assert "v" not in names and any(n.startswith("v__r") for n in names)


def test_drop_column_guards_referents(spark, table):
    table.add_constraint("v_pos", "v >= 0")
    table.append(
        spark.range(5).select(F.col("id").alias("k"), F.col("id").alias("v"))
    )
    with pytest.raises(ValueError, match="constraint"):
        table.drop_column("v")


def test_widen_column_int_to_bigint_mixed_vintages(spark, table):
    table.append(
        spark.range(0, 30).select(
            F.col("id").cast("int").alias("k"), F.col("id").alias("v")
        ),
        stats_cols=["k"],
    )
    table.widen_column("k", "bigint")
    table.append(
        spark.range(30, 60).select(
            F.col("id").cast("bigint").alias("k"), F.col("id").alias("v")
        ),
        stats_cols=["k"],
    )
    snap = table.snapshot()
    assert dict(snap.dtypes)["k"] == "bigint"
    assert snap.count() == 60
    assert snap.agg(F.sum("k")).collect()[0][0] == sum(range(60))
    # zone-map pruning still works across vintages
    df, scanned, total = table.scan_pruned("k", 5, 10)
    assert sorted(r.k for r in df.collect()) == list(range(5, 11))


def test_widen_column_rejects_narrowing_and_lossy(spark, table):
    table.append(
        spark.range(5).select(F.col("id").alias("k"))  # bigint
    )
    with pytest.raises(ValueError, match="not a lossless widening"):
        table.widen_column("k", "int")
    with pytest.raises(ValueError, match="not a lossless widening"):
        table.widen_column("k", "float")


def test_widen_then_rename_then_scan(spark, table):
    """Widening composes with column mapping: rename after widen,
    stats probed through the rename chain, types unified."""
    table.append(
        spark.range(0, 20).select(F.col("id").cast("int").alias("k")),
        stats_cols=["k"],
    )
    table.widen_column("k", "bigint")
    table.rename_column("k", "kk")
    table.append(
        spark.range(20, 40).select(F.col("id").alias("kk")), stats_cols=["kk"]
    )
    snap = table.snapshot()
    assert dict(snap.dtypes)["kk"] == "bigint"
    df, _, _ = table.scan_pruned("kk", 15, 25)
    assert sorted(r.kk for r in df.collect()) == list(range(15, 26))


def test_drop_widen_export_replay_parity(spark, table):
    """Delta + Iceberg exports of a dropped/widened/re-added table
    replay to the exact native snapshot: Delta via schemaString-driven
    physical reads (typeWidening feature), Iceberg via name-mapping
    resolution with type promotion."""
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    table.append(
        spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("v"),
        )
    )
    table.widen_column("k", "bigint")
    table.append(
        spark.range(10, 20).select(
            F.col("id").alias("k"), (F.col("id") * 3).cast("int").alias("v")
        )
    )
    table.drop_column("v")
    table.append(
        spark.range(20, 25).select(F.col("id").alias("k"), F.lit(99).alias("v"))
    )
    native = {(r.k, r.v) for r in table.snapshot().collect()}
    export_delta_log(spark, table)
    got_d = {
        (r.k, r.v)
        for r in read_delta_log(spark, table.path).select("k", "v").collect()
    }
    assert got_d == native
    # protocol declares the features a real reader must check
    import json as _json

    first = [
        _json.loads(line)
        for line in open(sorted((table.path / "_delta_log").glob("*.json"))[0])
    ]
    proto = next(a["protocol"] for a in first if "protocol" in a)
    assert "typeWidening" in proto["readerFeatures"]
    assert "columnMapping" in proto["readerFeatures"]
    export_iceberg_metadata(spark, table)
    got_i = {
        (r.k, r.v)
        for r in read_iceberg(spark, table.path).select("k", "v").collect()
    }
    assert got_i == native


def test_datasource_reads_drop_widen_table(spark, table):
    from lakehouse_test_spark.sources.lakehouse_datasource import register

    register(spark)
    table.append(
        spark.range(0, 10).select(
            F.col("id").cast("int").alias("k"), F.lit(1).alias("v")
        )
    )
    table.widen_column("k", "bigint")
    table.drop_column("v")
    table.append(
        spark.range(10, 15).select(F.col("id").alias("k"), F.lit(5).alias("v"))
    )
    df = spark.read.format("lakehouse").option("path", str(table.path)).load()
    assert dict(df.dtypes)["k"] == "bigint"
    rows = {(r.k, r.v) for r in df.collect()}
    want = {(r.k, r.v) for r in table.snapshot().collect()}
    assert rows == want


def test_clone_carries_drop_and_widen_metadata(spark, table, tmp_path):
    """Interplay (found by the r5 torture sweep): a shallow clone
    references the source's PHYSICAL files, so the whole
    column-mapping state must follow — without the widening targets
    the clone's first read dies in CANNOT_MERGE_SCHEMAS on the mixed
    int/bigint vintages, and without the dropped set the dropped
    column's stale data resurrects in the clone."""
    table.append(
        spark.range(0, 50).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("v"),
        ),
        stats_cols=["k"],
    )
    table.widen_column("k", "bigint")
    table.drop_column("v")
    table.append(
        spark.range(50, 80).select(F.col("id").alias("k"), F.lit(9).alias("v")),
        stats_cols=["k"],
    )
    c = table.clone(str(tmp_path / "cl_dw"))
    s = c.snapshot()
    assert dict(s.dtypes)["k"] == "bigint"
    assert s.count() == 80
    assert s.where(F.col("v").isNull()).count() == 50  # no resurrection
    # the clone stays independently writable under the evolved schema
    c.append(
        spark.range(100, 105).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    )
    assert c.snapshot().count() == 85
    deep = table.clone(str(tmp_path / "cl_dw_deep"), shallow=False)
    assert deep.snapshot().count() == 80
    assert dict(deep.snapshot().dtypes)["k"] == "bigint"


def test_vacuum_retention_age_spares_young_orphans(spark, table):
    """min_age_seconds is the in-flight-writer guard (Delta's
    deletedFileRetentionDuration): an unreferenced file younger than
    the retention window survives vacuum — it may be a concurrent
    writer's staged-but-not-yet-committed output."""
    table.append(_df(spark, 0, 50))
    staged = Path(table.path) / "data" / "staging123"
    staged.mkdir(parents=True)
    orphan = staged / "part-orphan.parquet"
    orphan.write_bytes(b"PAR1fake")
    res = table.vacuum(keep_versions=1, min_age_seconds=3600)
    assert orphan.exists(), "young orphan must survive retention"
    import os

    os.utime(orphan, (1_600_000_000, 1_600_000_000))  # age it past any window
    res = table.vacuum(keep_versions=1, min_age_seconds=3600)
    assert not orphan.exists() and res["deleted"] >= 1


def test_vacuum_sweeps_crash_staging_residue(spark, table):
    """r10 verdict #8 (orphan-data sweep): a writer that crashes
    mid-write leaves a commit dir no log entry references — nested
    ``_temporary/`` attempt dirs with partial parquet, ``.crc``
    sidecars — which would otherwise sit in the table dir forever
    (commits reference parquet only, so the non-parquet residue is
    committed-by-no-one by construction). vacuum reclaims the whole
    orphan dir (files AND nested dirs) under the same age rail that
    protects an in-flight writer; a LIVE commit dir's own sidecar
    metadata is never touched."""
    import os

    table.append(_df(spark, 0, 50))
    live_dir = Path(table.path) / table.history()[-1].files[0]
    live_dir = live_dir.parent
    live_crc = live_dir / ".part-live.crc"
    live_crc.write_bytes(b"crc")
    crash = Path(table.path) / "data" / "crashed0000"
    deep = crash / "_temporary" / "0" / "task_001"
    deep.mkdir(parents=True)
    partial = deep / "part-00000-dead.parquet"
    partial.write_bytes(b"PAR1partial")
    crc = deep / ".part-00000-dead.crc"
    crc.write_bytes(b"crc")
    # young residue = possibly in-flight: the rail spares everything
    res = table.vacuum(keep_versions=1, min_age_seconds=3600)
    assert partial.exists() and crc.exists()
    # aged past the rail: the whole orphan tree is reclaimed
    for f in (partial, crc):
        os.utime(f, (1_600_000_000, 1_600_000_000))
    res = table.vacuum(keep_versions=1, min_age_seconds=3600)
    assert res["deleted"] >= 2
    assert not crash.exists(), "orphan dir tree must be gone"
    assert live_crc.exists(), "live commit dir sidecars are kept"
    assert table.snapshot().count() == 50  # table reads unharmed
    rep = table.verify()
    assert rep["ok"], rep["errors"]


def test_widen_decimal_precision_growth(spark, table):
    table.append(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") * 1.5).cast("decimal(10,2)").alias("m"),
        )
    )
    table.widen_column("m", "decimal(20,2)")
    table.append(
        spark.range(10, 15).select(
            F.col("id").alias("k"),
            F.lit("123456789012345678.99").cast("decimal(20,2)").alias("m"),
        )
    )
    snap = table.snapshot()
    assert dict(snap.dtypes)["m"] == "decimal(20,2)"
    assert snap.count() == 15
    # scale growth without integral headroom is lossy -> rejected
    with pytest.raises(ValueError, match="lossless"):
        table.widen_column("m", "decimal(20,4)")
    # but scale growth WITH headroom is fine
    table.widen_column("m", "decimal(24,4)")
    assert dict(table.snapshot().dtypes)["m"] == "decimal(24,4)"


def test_verify_clean_and_detects_corruption(spark, table):
    """verify() is the table fsck: clean on a healthy evolved table
    (renames + drop + widen + compaction), and reports missing files,
    torn footers, and row-count drift instead of failing mid-scan."""
    table.append(_df(spark, 0, 100).repartition(2), stats_cols=["k"], bloom_cols=["k"])
    table.rename_column("v", "vv")
    table.widen_column("k", "bigint")
    table.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("vv")
        ),
        stats_cols=["k"],
    )
    table.drop_column("vv")
    rep = table.verify()
    assert rep["ok"], rep["errors"]
    assert rep["files_checked"] >= 3
    # corrupt: delete one live file
    victim = Path(table.path) / table.history()[-1].files[0]
    victim.unlink()
    rep2 = table.verify()
    assert not rep2["ok"]
    assert any("missing data file" in e for e in rep2["errors"])
    # torn footer
    victim2 = Path(table.path) / table.history()[0].files[0]
    victim2.write_bytes(b"not a parquet file")
    rep3 = table.verify()
    assert any("unreadable footer" in e for e in rep3["errors"])


def test_vacuum_dry_run_reports_without_deleting(spark, table):
    table.append(_df(spark, 0, 100))
    table.compact(target_partitions=1)
    n_before = len(list(Path(table.path).rglob("*.parquet")))
    rep = table.vacuum(keep_versions=1, dry_run=True)
    assert rep["deleted"] == 0 and len(rep["would_delete"]) > 0
    assert len(list(Path(table.path).rglob("*.parquet"))) == n_before
    # horizon NOT advanced by the dry run: time travel still works
    assert table.snapshot(version=0).count() == 100
    real = table.vacuum(keep_versions=1)
    assert real["deleted"] == len(rep["would_delete"])


def test_cli_verify_verb(spark, table, capsys):
    from lakehouse_test_spark.cli import main

    table.append(_df(spark, 0, 50))
    assert main(["verify", "--table", str(table.path)], spark=spark) == 0
    (Path(table.path) / table.history()[0].files[0]).unlink()
    assert main(["verify", "--table", str(table.path)], spark=spark) == 1
    out = capsys.readouterr().out
    assert "OK" in out and "FAILED" in out


def test_drop_widen_reject_unknown_columns(spark, table):
    table.append(_df(spark, 0, 10))
    with pytest.raises(ValueError, match="no column 'nope'"):
        table.drop_column("nope")
    with pytest.raises(ValueError, match="no column 'nope'"):
        table.widen_column("nope", "bigint")


def test_drop_clustered_column_guarded_widen_composes(spark, table):
    """Interplay (r5 torture sweep): dropping a clustered column left
    hilbert_cluster_incremental resolving a ghost — now guarded like
    constraints/generated/spec referents. WIDENING a clustered column
    composes fine: incremental reclustering and box scans keep
    working across the int/bigint vintages."""
    df = spark.range(0, 1000).select(
        F.col("id").cast("int").alias("x"),
        ((F.col("id") * 7) % 997).cast("int").alias("y"),
    )
    table.append(df, stats_cols=["x", "y"])
    table.hilbert_cluster(["x", "y"])
    with pytest.raises(ValueError, match="clustering spec"):
        table.drop_column("y")
    table.widen_column("x", "bigint")
    table.append(
        spark.range(1000, 1200).select(
            F.col("id").alias("x"), ((F.col("id") * 3) % 997).cast("int").alias("y")
        ),
        stats_cols=["x", "y"],
    )
    c = table.hilbert_cluster_incremental()
    assert c is not None and table.snapshot().count() == 1200
    got, scanned, total = table.scan_pruned_box({"x": (10, 50), "y": (100, 300)})
    rows = {(r.x, r.y) for r in got.collect()}
    want = {
        (i, (i * 7) % 997)
        for i in range(1000)
        if 10 <= i <= 50 and 100 <= (i * 7) % 997 <= 300
    }
    assert rows == want and scanned < total


def test_export_parity_rename_drop_widen_dv_combined(spark, table):
    """The everything-at-once export torture: rename + widen + drop +
    re-add + deletion vectors in ONE table, exported to BOTH formats,
    each replayed by its own external-reader path — row-set parity
    with the native snapshot."""
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
    )

    table.append(
        spark.range(0, 60).select(
            F.col("id").cast("int").alias("k"),
            (F.col("id") * 2).cast("int").alias("v"),
            F.lit("a").alias("s"),
        )
    )
    table.rename_column("s", "tag")
    table.widen_column("k", "bigint")
    table.append(
        spark.range(60, 100).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).cast("int").alias("v"),
            F.lit("b").alias("tag"),
        )
    )
    table.drop_column("v")
    table.append(
        spark.range(100, 120).select(
            F.col("id").alias("k"), F.lit(9).alias("v"), F.lit("c").alias("tag")
        )
    )
    table.delete_where_dv("k % 10 = 0")
    native = {(r.k, r.v, r.tag) for r in table.snapshot().collect()}
    assert len(native) == 108
    export_delta_log(spark, table)
    got_d = {
        (r.k, r.v, r.tag)
        for r in read_delta_log(spark, table.path).select("k", "v", "tag").collect()
    }
    assert got_d == native
    export_iceberg_metadata(spark, table)
    got_i = {
        (r.k, r.v, r.tag)
        for r in read_iceberg(spark, str(table.path)).select("k", "v", "tag").collect()
    }
    assert got_i == native
