"""Lakehouse table tests: snapshot isolation, time travel,
incremental reads, compaction — the §2a ops 29-33 replacement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable
from lakehouse_test_spark.sources.synthetic import person_stream


@pytest.fixture()
def table(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path / "tbl"))
    yield t
    t.drop()


def test_append_snapshot_timetravel(spark, table):
    table.append(person_stream(spark, 100))
    table.append(person_stream(spark, 50))
    assert table.latest_version() == 1
    assert table.snapshot().count() == 150
    assert table.snapshot(version=0).count() == 100  # time travel
    assert table.total_rows_committed() == 150
    assert table.total_rows_committed(version=0) == 100


def test_incremental_read_changes(spark, table):
    """Consume-loop analog: a reader holding version v sees exactly
    the rows committed after v (ops 5/31, exactly-once batches)."""
    table.append(person_stream(spark, 100))
    v0 = table.latest_version()
    table.append(person_stream(spark, 30))
    table.append(person_stream(spark, 20))
    assert table.read_changes(since_version=v0).count() == 50
    assert table.read_changes(since_version=table.latest_version()).count() == 0


def test_committed_is_readable_invariant(spark, table):
    """Op 31 dissolution: a snapshot never sees uncommitted files —
    write data without a log entry and it must stay invisible."""
    table.append(person_stream(spark, 10))
    # simulate a writer crash: data files land, no commit
    orphan = table.path / "data" / "orphan"
    person_stream(spark, 99).write.parquet(str(orphan))
    assert table.snapshot().count() == 10


def test_compact_preserves_rows(spark, table):
    for _ in range(4):
        table.append(person_stream(spark, 25).repartition(4))
    files_before = len(table._files_for())
    table.compact(target_partitions=1)
    assert table.snapshot().count() == 100
    assert len(table._files_for()) < files_before
    # time travel across the compaction boundary still works
    assert table.snapshot(version=1).count() == 50


def test_roundtrip_counter_invariant(spark, table):
    """rows_written == rows_read (reference §5 invariant, op 35)."""
    df = person_stream(spark, 500)
    commit = table.append(df)
    assert commit.row_count == 500
    assert table.snapshot().count() == table.total_rows_committed()


def test_zone_map_file_skipping(spark, table):
    """Commits with disjoint key ranges + stats_cols → a range scan
    touches only overlapping files (Delta/Iceberg data-skipping
    analog), and results equal the unpruned filter."""
    from pyspark.sql import functions as F

    for lo in (0, 1000, 2000, 3000):
        df = (
            person_stream(spark, 500)
            .withColumn("ba", F.col("ba") + lo)
            .coalesce(1)
        )
        table.append(df, stats_cols=["ba"])
    pruned, scanned, total = table.scan_pruned("ba", 1100, 1200)
    assert total == 4 and scanned == 1, f"expected 1/4 files, got {scanned}/{total}"
    expected = table.snapshot().where((F.col("ba") >= 1100) & (F.col("ba") <= 1200)).count()
    assert pruned.count() == expected == 101
    # stats-free commits must never be skipped (safety)
    table.append(person_stream(spark, 10).withColumn("ba", F.col("ba") + 1150).coalesce(1))
    pruned2, scanned2, total2 = table.scan_pruned("ba", 1100, 1200)
    assert scanned2 == 2 and total2 == 5
    assert pruned2.count() == expected + 10


def test_scan_pruned_respects_restates(spark, table):
    """scan_pruned must read the live file set: after delete_where it
    must not resurrect deleted rows, and after merge it must not
    surface stale pre-merge versions; stats recorded on the restate
    commit keep file skipping working."""
    for lo in (0, 1000, 2000):
        df = person_stream(spark, 200).withColumn("ba", F.col("ba") + lo).coalesce(1)
        table.append(df, stats_cols=["ba"])
    # delete every row in the [1000, 2000) band
    table.delete_where("ba >= 1000 AND ba < 2000", stats_cols=["ba"])
    pruned, scanned, total = table.scan_pruned("ba", 1000, 1999)
    assert pruned.count() == 0, "deleted rows resurrected by scan_pruned"
    snap_count = table.snapshot().count()
    assert snap_count == 400
    # merge: shift the ba of a known slice; old versions must not appear
    updates = (
        table.snapshot().where("ba < 100").withColumn("ba", F.col("ba") + 5000)
    )
    n_upd = updates.count()
    assert n_upd > 0
    table.merge(updates, key_cols=["key"], stats_cols=["ba"])
    pruned2, _, _ = table.scan_pruned("ba", 5000, 6000)
    assert pruned2.count() == n_upd
    full = table.snapshot().where((F.col("ba") >= 0) & (F.col("ba") <= 10_000))
    pruned3, scanned3, total3 = table.scan_pruned("ba", 0, 10_000)
    assert pruned3.count() == full.count() == table.snapshot().count()
    # post-restate appends layer on the rewrite and stay skippable
    table.append(
        person_stream(spark, 10).withColumn("ba", F.col("ba") + 20_000).coalesce(1),
        stats_cols=["ba"],
    )
    pruned4, scanned4, total4 = table.scan_pruned("ba", 20_000, 30_000)
    assert pruned4.count() == 10
    assert scanned4 == 1, f"zone maps should skip restate files, scanned {scanned4}"


def test_read_changes_restate_semantics(spark, table):
    """Compaction (dataChange=false) must be invisible to incremental
    readers — no duplicated rows; a merge/delete past the cursor must
    raise so the reader restarts (exactly-once contract)."""
    from lakehouse_test_spark.plans.lakehouse import RestateAcrossCursorError

    table.append(person_stream(spark, 100).repartition(4))
    v0 = table.latest_version()
    table.append(person_stream(spark, 30))
    table.compact(target_partitions=1)
    table.append(person_stream(spark, 20))
    # reader at v0 sees only the two appends, not the compact rewrite
    assert table.read_changes(since_version=v0).count() == 50
    # a logical restate past the cursor invalidates it
    table.delete_where("ba % 2 = 0")
    with pytest.raises(RestateAcrossCursorError):
        table.read_changes(since_version=v0)
    # a fresh cursor taken after the restate works again
    v_new = table.latest_version()
    table.append(person_stream(spark, 5))
    assert table.read_changes(since_version=v_new).count() == 5
    # total_rows_committed tracks the live snapshot across restates
    assert table.total_rows_committed() == table.snapshot().count()


def test_schema_evolution_additive(spark, table):
    """A later commit may add columns; snapshots merge schemas and
    older rows surface NULL for the new column (additive evolution)."""
    from pyspark.sql import functions as F

    table.append(person_stream(spark, 20))
    evolved = person_stream(spark, 10).withColumn("segment", F.lit("vip"))
    table.append(evolved)
    snap = table.snapshot()
    assert "segment" in snap.columns
    assert snap.count() == 30
    assert snap.where(F.col("segment").isNull()).count() == 20
    assert snap.where(F.col("segment") == "vip").count() == 10
    # pre-evolution time travel shows the old schema's data
    assert table.snapshot(version=0).count() == 20


def test_delta_export_replay_matches_native(spark, table):
    """The exported _delta_log, replayed like a Delta reader, must
    reconstruct the native live file set and row counts at EVERY
    version — across appends, merge, compact, and delete."""
    import json

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
        replay_live_files,
    )

    table.append(person_stream(spark, 100), stats_cols=["ba"])
    table.append(person_stream(spark, 50), stats_cols=["ba"])
    upd = person_stream(spark, 10).withColumn("name", F.lit("updated"))
    table.merge(upd, key_cols=["key"], stats_cols=["ba"])
    table.append(person_stream(spark, 25), stats_cols=["ba"])
    table.compact(stats_cols=["ba"])
    table.delete_where("ba < 5", stats_cols=["ba"])

    log_dir = export_delta_log(spark, table)

    for v in range(table.latest_version() + 1):
        native = sorted(
            str(p.relative_to(table.path))
            for p in map(__import__("pathlib").Path, table._files_for(v))
        )
        assert replay_live_files(str(table.path), v) == native, f"v{v} file set"
        assert (
            read_delta_log(spark, str(table.path), v).count()
            == table.snapshot(v).count()
        ), f"v{v} rows"

    # spec shape: v0 has protocol + metaData; adds carry parseable
    # stats with numRecords summing to the commit's row_count
    v0_actions = [
        json.loads(l)
        for l in (log_dir / f"{0:020d}.json").read_text().splitlines()
    ]
    kinds = [next(iter(a)) for a in v0_actions]
    assert kinds[0] == "protocol" and kinds[1] == "metaData"
    schema = json.loads(v0_actions[1]["metaData"]["schemaString"])
    assert schema["type"] == "struct"
    adds = [a["add"] for a in v0_actions if "add" in a]
    n = sum(json.loads(a["stats"])["numRecords"] for a in adds)
    assert n == table.history()[0].row_count
    assert all("minValues" in json.loads(a["stats"]) for a in adds)


def test_delta_export_compact_datachange_false(spark, table):
    """OPTIMIZE-style compaction must export dataChange=false on both
    its removes and adds, so incremental Delta readers skip it."""
    import json

    from lakehouse_test_spark.plans.delta_export import export_delta_log

    table.append(person_stream(spark, 40))
    table.compact()
    log_dir = export_delta_log(spark, table)
    actions = [
        json.loads(l)
        for l in (log_dir / f"{1:020d}.json").read_text().splitlines()
    ]
    removes = [a["remove"] for a in actions if "remove" in a]
    adds = [a["add"] for a in actions if "add" in a]
    assert removes and adds
    assert all(r["dataChange"] is False for r in removes)
    assert all(a["dataChange"] is False for a in adds)


def test_zorder_prunes_both_dimensions(spark, table):
    """After ZORDER BY (x, y), a narrow range scan on EITHER column
    must skip most files — the multi-dimensional locality a linear
    sort cannot give — while returning exactly the unpruned rows."""
    n = 4096
    base = spark.range(n).select(
        F.col("id").cast("bigint").alias("ba"),
        # decorrelated second dimension: bit-reversed id
        F.lit(0).alias("_drop"),
    )
    import pyspark.sql.functions as SF

    rev = SF.lit(0).cast("bigint")
    for i in range(12):
        rev = rev + SF.shiftleft(SF.shiftright(SF.col("ba"), i).bitwiseAND(SF.lit(1)), 11 - i)
    df = base.select("ba", rev.alias("age"))
    table.append(df.repartition(4), stats_cols=["ba", "age"])

    table.zorder(["ba", "age"], target_partitions=8, stats_cols=["ba", "age"])

    for col in ("ba", "age"):
        pruned, scanned, total = table.scan_pruned(col, 100, 300)
        assert total >= 8, f"zorder should have produced >=8 files, got {total}"
        assert scanned <= total // 2, f"{col}: scanned {scanned}/{total} files"
        expected = (
            table.snapshot().where((F.col(col) >= 100) & (F.col(col) <= 300)).count()
        )
        assert pruned.count() == expected == 201


def test_zorder_is_datachange_false(spark, table):
    """Reclustering changes no logical rows: incremental readers must
    see nothing new, snapshot counts are unchanged."""
    table.append(person_stream(spark, 300), stats_cols=["ba"])
    v = table.latest_version()
    table.zorder(["ba", "age"])
    assert table.snapshot().count() == 300
    assert table.read_changes(since_version=v).count() == 0


def test_incremental_rollup_maintenance(spark, tmp_path):
    """maintain_rollup folded over any append sequence must equal a
    full recompute, and must recover by rebuild when a restate
    (delete) crosses the cursor."""
    from lakehouse_test_spark.plans.lakehouse import (
        LakehouseTable,
        maintain_rollup,
    )

    src = LakehouseTable(spark, str(tmp_path / "src"))
    tgt = LakehouseTable(spark, str(tmp_path / "tgt"))

    def check():
        expect = {
            (r.gender, r.n_rows, round(r.total, 4))
            for r in src.snapshot()
            .groupBy("gender")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("score").alias("total"))
            .collect()
        }
        got = {
            (r.gender, r.n_rows, round(r.total, 4))
            for r in tgt.snapshot().select("gender", "n_rows", "total").collect()
        }
        assert got == expect

    cursor = -1
    src.append(person_stream(spark, 100))
    cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)
    check()
    src.append(person_stream(spark, 50))
    src.append(person_stream(spark, 25))
    cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)
    check()
    # no-op maintenance: no new commits, rollup unchanged
    cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)
    check()
    # restate past the cursor: delete forces the rebuild path
    src.delete_where("ba < 10")
    cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)
    check()
    src.append(person_stream(spark, 30))
    cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)
    check()
    src.drop()
    tgt.drop()


def test_orphan_data_files_invisible(spark, table):
    """Atomicity: data files written WITHOUT a log commit (a writer
    that died before publishing) must be invisible to snapshots,
    incremental reads, and row totals — committed == readable."""
    table.append(person_stream(spark, 100))
    # simulate a crashed writer: data lands, log entry never does
    orphan_dir = table.path / "data" / "orphan-crashed-writer"
    person_stream(spark, 40).coalesce(1).write.parquet(str(orphan_dir))
    assert any(orphan_dir.glob("part-*.parquet")), "fixture wrote no data"
    assert table.snapshot().count() == 100
    assert table.total_rows_committed() == 100
    assert table.read_changes(since_version=-1).count() == 100
    # the next real commit is unaffected
    table.append(person_stream(spark, 10))
    assert table.snapshot().count() == 110


def test_delta_export_schema_evolution(spark, table):
    """Additive schema evolution must surface as a fresh metaData
    action in the evolving commit, and a later old-schema append must
    NOT regress the published schema."""
    import json

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )

    table.append(person_stream(spark, 20))
    evolved = person_stream(spark, 10).withColumn("tier", F.lit("gold"))
    table.append(evolved)  # adds a column
    table.append(person_stream(spark, 5))  # old schema again
    log_dir = export_delta_log(spark, table)

    def fields_at(v):
        metas = [
            json.loads(l)["metaData"]
            for l in (log_dir / f"{v:020d}.json").read_text().splitlines()
            if '"metaData"' in l
        ]
        if not metas:
            return None
        return {
            f["name"] for f in json.loads(metas[-1]["schemaString"])["fields"]
        }

    assert "tier" not in fields_at(0)
    assert "tier" in fields_at(1), "evolving commit must emit new metaData"
    assert fields_at(2) is None, "old-schema append must not emit metaData"
    df = read_delta_log(spark, str(table.path))
    assert "tier" in df.columns and df.count() == 35


def test_restore_to_earlier_version(spark, table):
    """RESTORE publishes a metadata-only restate pointing at the
    target version's live files: the view reverts, history is kept,
    and no data files are rewritten."""
    table.append(person_stream(spark, 100))
    v0 = table.latest_version()
    table.append(person_stream(spark, 50))
    table.delete_where("age >= 0")  # wipe everything (logical restate)
    assert table.snapshot().count() == 0

    before_files = {f for c in table.history() for f in c.files}
    c = table.restore(v0)
    after_files = {f for cc in table.history() for cc in [cc] for f in cc.files}
    assert table.snapshot().count() == 100          # view reverted
    assert table.total_rows_committed() == 100
    assert c.operation == "restore" and c.restate
    assert set(c.files) <= before_files             # no new data files written
    assert table.snapshot(version=v0 + 1).count() == 150  # lineage intact
    # appends layer on top of the restored base
    table.append(person_stream(spark, 10))
    assert table.snapshot().count() == 110


def test_restore_resets_incremental_cursor(spark, table):
    """A cursor from before a restore must restart (logical restate
    crossing the cursor), same contract as merge/delete."""
    from lakehouse_test_spark.plans.lakehouse import RestateAcrossCursorError

    table.append(person_stream(spark, 40))
    v0 = table.latest_version()
    table.append(person_stream(spark, 10))
    table.restore(v0)
    with pytest.raises(RestateAcrossCursorError):
        table.read_changes(since_version=v0)


def test_restore_preserves_pruning_stats(spark, table):
    """Zone-map stats carry through the restore, so scan_pruned keeps
    skipping files afterwards."""
    df = person_stream(spark, 200).withColumn("bucket", F.col("age") % 4)
    for b in range(4):
        table.append(df.where(F.col("bucket") == b).coalesce(1), stats_cols=["age"])
    v_all = table.latest_version()
    table.delete_where("age < 0", stats_cols=["age"])  # no-op restate
    table.restore(v_all)
    _, scanned, total = table.scan_pruned("age", 0, 1)
    assert total == 4
    assert scanned < total  # pruning still effective post-restore


def test_deletion_vectors_basic(spark, table):
    """delete_where_dv removes rows logically without touching data
    files; snapshot, counts, and time travel all respect the DVs."""
    table.append(person_stream(spark, 100))
    v0 = table.latest_version()
    files_before = {f for c in table.history() for f in c.files}

    young = table.snapshot().where("age < 30").count()
    c = table.delete_where_dv("age < 30")
    assert c.operation == "delete_dv" and c.dv_row_count == young
    assert {f for cc in table.history() for f in cc.files} == files_before  # no rewrite
    snap = table.snapshot()
    assert snap.count() == 100 - young
    assert snap.where("age < 30").count() == 0
    assert table.total_rows_committed() == 100 - young
    # time travel before the DV still sees everything
    assert table.snapshot(version=v0).count() == 100


def test_deletion_vectors_stack_and_appends(spark, table):
    """DVs accumulate without double-counting; appends after a DV are
    unaffected; a restate (compact) physically drops DV'd rows."""
    table.append(person_stream(spark, 100))
    n_lt30 = table.snapshot().where("age < 30").count()
    n_lt40 = table.snapshot().where("age < 40").count()
    table.delete_where_dv("age < 30")
    c2 = table.delete_where_dv("age < 40")  # overlaps the first DV
    assert c2.dv_row_count == n_lt40 - n_lt30  # no double delete
    assert table.snapshot().count() == 100 - n_lt40

    table.append(person_stream(spark, 50))  # new file, no DVs on it
    assert table.snapshot().count() == 150 - n_lt40

    table.compact()
    assert table._live_dv_files() == []  # restate cleared the vectors
    assert table.snapshot().count() == 150 - n_lt40
    assert table.snapshot().where("age < 40").count() == table.snapshot().where(
        "age >= 40 and age < 40"
    ).count() + table.snapshot().where("age < 40").count()  # self-consistent


def test_deletion_vectors_cursor_and_restore(spark, table):
    """A DV past an incremental cursor forces a snapshot restart;
    restore carries the target version's DV state."""
    from lakehouse_test_spark.plans.lakehouse import RestateAcrossCursorError

    table.append(person_stream(spark, 60))
    v0 = table.latest_version()
    table.delete_where_dv("age < 30")
    v_dv = table.latest_version()
    with pytest.raises(RestateAcrossCursorError):
        table.read_changes(since_version=v0)

    survivors = table.snapshot().count()
    table.append(person_stream(spark, 10))
    table.restore(v_dv)
    assert table.snapshot().count() == survivors
    assert table.snapshot().where("age < 30").count() == 0


def test_cdf_replay_reproduces_snapshot(spark, table):
    """Replaying the change feed (inserts minus deletes) onto the old
    snapshot must reproduce the current snapshot exactly."""
    table.append(person_stream(spark, 60))
    v0 = table.latest_version()
    table.delete_where_dv("age < 30")
    table.append(person_stream(spark, 20).withColumn("ba", F.col("ba") + 1000))

    cdf = table.read_changes_cdf(v0)
    by_type = {r["_change_type"] for r in cdf.select("_change_type").distinct().collect()}
    assert by_type == {"insert", "delete"}

    old_keys = {r.ba for r in table.snapshot(version=v0).select("ba").collect()}
    ins = {r.ba for r in cdf.where("_change_type = 'insert'").select("ba").collect()}
    dels = {r.ba for r in cdf.where("_change_type = 'delete'").select("ba").collect()}
    new_keys = {r.ba for r in table.snapshot().select("ba").collect()}
    assert (old_keys - dels) | ins == new_keys
    # versions are recorded per commit, deletes before the late insert
    assert cdf.where("_change_type='delete'").select("_commit_version").distinct().count() == 1


def test_cdf_raises_on_full_restate(spark, table):
    from lakehouse_test_spark.plans.lakehouse import RestateAcrossCursorError

    table.append(person_stream(spark, 30))
    v0 = table.latest_version()
    table.delete_where("age < 25")  # full rewrite
    with pytest.raises(RestateAcrossCursorError):
        table.read_changes_cdf(v0)


def test_merge_clause_matrix(spark, table):
    """WHEN MATCHED DELETE / ignore (insert-only) / sync-delete
    semantics on a known key set."""
    base = person_stream(spark, 10)  # ba 0..9
    table.append(base)
    src = person_stream(spark, 6).withColumn("ba", F.col("ba") + 7)  # ba 7..12
    src = src.withColumn("score", F.lit(999.0))

    # matched-delete + insert-new: 0..6 kept, 7..9 deleted, 10..12 inserted
    table.merge(src, ["ba"], when_matched="delete")
    got = sorted(r.ba for r in table.snapshot().select("ba").collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 10, 11, 12]

    # insert-only (ignore): existing rows untouched, only new keys land
    table2 = LakehouseTable(spark, str(table.path) + "_2")
    try:
        table2.append(base)
        table2.merge(src, ["ba"], when_matched="ignore")
        rows = {r.ba: r.score for r in table2.snapshot().select("ba", "score").collect()}
        assert sorted(rows) == list(range(13))
        assert rows[7] != 999.0 and rows[12] == 999.0  # 7 kept old, 12 inserted
    finally:
        table2.drop()

    # sync: target mirrors source exactly
    table3 = LakehouseTable(spark, str(table.path) + "_3")
    try:
        table3.append(base)
        table3.merge(src, ["ba"], sync_delete_unmatched=True)
        assert sorted(r.ba for r in table3.snapshot().select("ba").collect()) == list(
            range(7, 13)
        )
    finally:
        table3.drop()

    # update without insert: only matched keys take new values
    table4 = LakehouseTable(spark, str(table.path) + "_4")
    try:
        table4.append(base)
        table4.merge(src, ["ba"], insert_new=False)
        rows = {r.ba: r.score for r in table4.snapshot().select("ba", "score").collect()}
        assert sorted(rows) == list(range(10))
        assert rows[7] == 999.0 and rows[3] != 999.0
    finally:
        table4.drop()


def test_snapshot_without_dvs_has_no_join(spark, table):
    """The DV anti-join must not tax DV-less tables: a plain snapshot
    plan contains no join at all."""
    import io
    from contextlib import redirect_stdout

    table.append(person_stream(spark, 20))
    buf = io.StringIO()
    with redirect_stdout(buf):
        table.snapshot().explain()
    assert "Join" not in buf.getvalue()


def test_dv_composition_equals_filter(spark, table):
    """Property: any sequence of DV deletes equals filtering the base
    by the conjunction of negated predicates — checked over seeded
    random predicate sequences."""
    import random

    table.append(person_stream(spark, 200))
    base = table.snapshot(version=0)
    rng = random.Random(13)
    preds = []
    for _ in range(3):
        lo = rng.randint(0, 80)
        hi = lo + rng.randint(5, 30)
        p = f"age >= {lo} and age < {hi}"
        preds.append(p)
        table.delete_where_dv(p)
    expect = base
    for p in preds:
        expect = expect.where(f"not ({p})")
    assert table.snapshot().count() == expect.count()
    got = sorted(r.ba for r in table.snapshot().select("ba").collect())
    want = sorted(r.ba for r in expect.select("ba").collect())
    assert got == want
    assert table.total_rows_committed() == len(want)


def test_rollup_maintains_across_dv_deletes(spark, tmp_path):
    """The incremental rollup must stay exact when the source takes
    deletion-vector deletes between maintenance calls."""
    from lakehouse_test_spark.plans.lakehouse import maintain_rollup

    src = LakehouseTable(spark, str(tmp_path / "src"))
    tgt = LakehouseTable(spark, str(tmp_path / "tgt"))
    try:
        src.append(person_stream(spark, 100))
        cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", -1)
        src.delete_where_dv("age < 40")
        src.append(person_stream(spark, 30).withColumn("ba", F.col("ba") + 500))
        cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)

        expect = (
            src.snapshot()
            .groupBy("gender")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("score").alias("total"))
            .collect()
        )
        got = {r.gender: (r.n_rows, round(r.total, 6)) for r in tgt.snapshot().collect()}
        want = {r.gender: (r.n_rows, round(r.total, 6)) for r in expect}
        assert got == want
    finally:
        src.drop()
        tgt.drop()


def test_append_with_retry_wins_version_race(spark, table):
    """Simulate a concurrent writer grabbing the next version: the
    append must land on a later version."""
    import json

    table.append(person_stream(spark, 10))
    # a "concurrent writer" publishes version 1 out from under us
    race = {"version": 1, "files": [], "row_count": 0, "operation": "append",
            "stats": None, "restate": False, "data_change": True,
            "dv_files": None, "dv_row_count": 0}
    table._commit_path(1).write_text(json.dumps(race))

    # an append rebases over any concurrent commit, so it always lands
    c = table.append(person_stream(spark, 5))
    assert c.version == 2
    assert table.snapshot().count() == 15


def test_table_diff_labels_added_and_removed(spark, table):
    """table_diff must report exactly the rows that changed between
    versions, across append + DV-delete history."""
    from lakehouse_test_spark.plans.lakehouse import table_diff

    table.append(person_stream(spark, 30))
    v0 = table.latest_version()
    table.delete_where_dv("age < 25")  # removes ages 18..24 => ba 0..6
    table.append(person_stream(spark, 5).withColumn("ba", F.col("ba") + 100))
    d = table_diff(table, v0)
    added = sorted(r.ba for r in d.where("_diff_type='added'").collect())
    removed = sorted(r.ba for r in d.where("_diff_type='removed'").collect())
    assert added == [100, 101, 102, 103, 104]
    assert removed == [0, 1, 2, 3, 4, 5, 6]


def test_merge_raises_on_duplicate_matched_source_keys(spark, table):
    """Delta MERGE semantics: multiple source rows matching the same
    target key must raise, not silently insert duplicates; duplicate
    keys that match NOTHING insert all their rows (NOT MATCHED
    INSERT), same as Delta."""
    table.append(person_stream(spark, 10))  # ba 0..9
    src = person_stream(spark, 4).unionByName(person_stream(spark, 4))  # ba 0..3 ×2
    with pytest.raises(ValueError, match="multiple source rows"):
        table.merge(src, ["ba"])
    assert table.latest_version() == 0  # nothing committed

    # duplicate keys entirely NEW to the target insert both copies
    new_dup = (
        person_stream(spark, 2)
        .withColumn("ba", F.col("ba") + 100)
        .unionByName(person_stream(spark, 2).withColumn("ba", F.col("ba") + 100))
    )
    table.merge(new_dup, ["ba"])
    assert table.snapshot().where("ba >= 100").count() == 4


def test_rollup_drops_fully_deleted_keys(spark, tmp_path):
    """A key whose rows are ALL deleted must disappear from the
    rollup (full-recompute parity), not linger as (0, 0)."""
    from lakehouse_test_spark.plans.lakehouse import maintain_rollup

    src = LakehouseTable(spark, str(tmp_path / "src"))
    tgt = LakehouseTable(spark, str(tmp_path / "tgt"))
    try:
        src.append(person_stream(spark, 60))
        cursor = maintain_rollup(spark, src, tgt, ["gender"], "score", -1)
        genders = {r.gender for r in tgt.snapshot().select("gender").collect()}
        victim = sorted(genders)[0]
        src.delete_where_dv(f"gender = '{victim}'")  # delete EVERY row of one key
        maintain_rollup(spark, src, tgt, ["gender"], "score", cursor)

        got = {r.gender: (r.n_rows, round(r.total, 6)) for r in tgt.snapshot().collect()}
        want = {
            r.gender: (r.n_rows, round(r.total, 6))
            for r in src.snapshot()
            .groupBy("gender")
            .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("score").alias("total"))
            .collect()
        }
        assert victim not in got
        assert got == want
    finally:
        src.drop()
        tgt.drop()


def test_cdf_initial_load_per_row_provenance(spark, table):
    """since_version=-1 must stamp each row with the commit that
    actually inserted it (Delta CDF contract), and exclude DV-deleted
    rows so the load equals the live snapshot."""
    table.append(person_stream(spark, 20))  # v0: ba 0..19
    table.append(person_stream(spark, 10).withColumn("ba", F.col("ba") + 100))  # v1
    table.delete_where_dv("ba >= 100 and ba < 105")  # v2

    load = table.read_changes_cdf(-1)
    assert {r["_change_type"] for r in load.select("_change_type").distinct().collect()} == {
        "insert"
    }
    ver_by_ba = {r.ba: r._commit_version for r in load.select("ba", "_commit_version").collect()}
    assert all(v == 0 for ba, v in ver_by_ba.items() if ba < 100)
    assert all(v == 1 for ba, v in ver_by_ba.items() if ba >= 100)
    # DV-deleted rows are absent; load == live snapshot
    assert sorted(ver_by_ba) == sorted(
        r.ba for r in table.snapshot().select("ba").collect()
    )


def test_delta_checkpoint_replay_from_checkpoint(spark, table):
    """A 25-commit export writes parquet checkpoints + _last_checkpoint
    (PROTOCOL.md §Checkpoints); reads replay checkpoint + JSON tail —
    O(interval), not O(history) — and still equal the native snapshot,
    including time travel below the newest checkpoint."""
    from lakehouse_test_spark.plans.delta_export import (
        _replay_state,
        export_delta_log,
        read_delta_log,
    )

    for i in range(12):  # v0..v11 appends
        table.append(person_stream(spark, 3).withColumn("ba", F.col("ba") + i * 10))
    table.delete_where("ba % 10 = 2")  # v12: full restate (removes in the log)
    for i in range(12, 24):  # v13..v24 appends
        table.append(person_stream(spark, 3).withColumn("ba", F.col("ba") + i * 100))
    assert table.latest_version() == 24

    log_dir = export_delta_log(spark, table)  # checkpoint_interval=10
    assert (log_dir / "00000000000000000010.checkpoint.parquet").exists()
    assert (log_dir / "00000000000000000020.checkpoint.parquet").exists()
    assert (log_dir / "_last_checkpoint").exists()

    # latest: newest checkpoint + 4-commit JSON tail, never the 25
    live, ckpt, replayed, _meta = _replay_state(str(table.path))
    assert ckpt == 20 and replayed == [21, 22, 23, 24]
    got = read_delta_log(spark, str(table.path))
    assert got.exceptAll(table.snapshot()).count() == 0
    assert table.snapshot().exceptAll(got).count() == 0

    # time travel below _last_checkpoint: older checkpoint + tail
    # (crosses the v12 restate, so checkpoint adds must be removable)
    _, ckpt15, replayed15, _ = _replay_state(str(table.path), 15)
    assert ckpt15 == 10 and replayed15 == [11, 12, 13, 14, 15]
    got15 = read_delta_log(spark, str(table.path), 15)
    assert got15.exceptAll(table.snapshot(version=15)).count() == 0
    assert table.snapshot(version=15).exceptAll(got15).count() == 0

    # below every checkpoint: plain JSON replay from v0
    _, ckpt5, replayed5, _ = _replay_state(str(table.path), 5)
    assert ckpt5 is None and replayed5 == list(range(6))
    assert read_delta_log(spark, str(table.path), 5).count() == table.snapshot(
        version=5
    ).count()


def test_shallow_clone_snapshot_equivalence(spark, table, tmp_path):
    """Shallow clone: zero data files copied, snapshot identical,
    DVs carried, constraints carried, time-travel clone works."""
    table.append(person_stream(spark, 100))
    table.append(person_stream(spark, 50))
    table.delete_where_dv("ba < 5")
    table.add_constraint("age_range", "age >= 0")

    clone_path = tmp_path / "clone"
    clone = table.clone(str(clone_path), shallow=True)
    src_rows = sorted(tuple(r) for r in table.snapshot().collect())
    cl_rows = sorted(tuple(r) for r in clone.snapshot().collect())
    assert cl_rows == src_rows
    # zero data copied: the clone directory holds only the log
    assert not list((clone_path).rglob("*.parquet"))
    assert clone.constraints() == {"age_range": "age >= 0"}

    # clone of a historical version == time travel
    old = table.clone(str(tmp_path / "clone_v0"), version=0, shallow=True)
    assert old.snapshot().count() == table.snapshot(version=0).count()


def test_shallow_clone_diverges_independently(spark, table, tmp_path):
    table.append(person_stream(spark, 40))
    clone = table.clone(str(tmp_path / "c2"), shallow=True)
    clone.append(person_stream(spark, 10))
    table.append(person_stream(spark, 25))
    assert clone.snapshot().count() == 50
    assert table.snapshot().count() == 65
    # the clone's own files landed under its own directory
    assert list((tmp_path / "c2").rglob("*.parquet"))
    # clone's own vacuum never touches the source's files
    clone.compact()
    clone.vacuum(keep_versions=1)
    assert table.snapshot().count() == 65


def test_deep_clone_and_nonempty_target(spark, table, tmp_path):
    table.append(person_stream(spark, 30))
    deep = table.clone(str(tmp_path / "deep"), shallow=False)
    assert deep.snapshot().count() == 30
    assert list((tmp_path / "deep").rglob("*.parquet"))
    with pytest.raises(ValueError, match="not empty"):
        table.clone(str(tmp_path / "deep"))


def test_scd2_apply_incremental_and_late_arrivals(spark, table):
    """SCD2 maintenance: batches fold into the stored history; a
    no-change observation produces no version; a LATE observation
    slots into its correct interval."""
    from pyspark.sql import Row

    t = table
    b1 = spark.createDataFrame(
        [Row(k=1, seg="A", eff="2020-01-01"), Row(k=2, seg="X", eff="2020-01-01")]
    ).withColumn("eff", F.col("eff").cast("timestamp"))
    t.scd2_apply(b1, ["k"], ["seg"], "eff")
    b2 = spark.createDataFrame(
        [Row(k=1, seg="B", eff="2021-01-01"), Row(k=2, seg="X", eff="2021-01-01")]
    ).withColumn("eff", F.col("eff").cast("timestamp"))
    t.scd2_apply(b2, ["k"], ["seg"], "eff")

    hist = {(r.k, r.seg): (str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.is_current)
            for r in t.snapshot().collect()}
    assert hist[(1, "A")] == ("2020-01-01", "2021-01-01", False)
    assert hist[(1, "B")] == ("2021-01-01", None, True)
    assert hist[(2, "X")] == ("2020-01-01", None, True)  # no-change collapsed
    assert len(hist) == 3

    # late arrival between the two versions of k=1
    late = spark.createDataFrame(
        [Row(k=1, seg="MID", eff="2020-06-01")]
    ).withColumn("eff", F.col("eff").cast("timestamp"))
    t.scd2_apply(late, ["k"], ["seg"], "eff")
    hist2 = {(r.k, r.seg): (str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10])
             for r in t.snapshot().collect()}
    assert hist2[(1, "A")] == ("2020-01-01", "2020-06-01")
    assert hist2[(1, "MID")] == ("2020-06-01", "2021-01-01")
    assert hist2[(1, "B")] == ("2021-01-01", None)
    # prior state remains time-travelable
    assert t.snapshot(version=1).count() == 3


def test_delta_export_column_mapping_rename(spark, table):
    """A renamed table exports with delta.columnMapping.mode=name:
    protocol bumps to reader 2 / writer 5, every schemaString field
    carries a columnMapping id + physicalName, data files keep the
    STABLE physical name across vintages, and the replay reader
    surfaces the logical schema with no value loss."""
    import json

    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )

    table.append(
        spark.range(0, 40).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    table.rename_column("v", "v_usd")
    table.append(
        spark.range(40, 80).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v_usd")
        )
    )
    table.rename_column("v_usd", "v_eur")  # chained: physical stays "v"
    table.append(
        spark.range(80, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v_eur")
        )
    )
    log_dir = export_delta_log(spark, table)

    actions = [
        json.loads(l) for l in (log_dir / f"{0:020d}.json").read_text().splitlines()
    ]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 2, "minWriterVersion": 5}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["configuration"]["delta.columnMapping.mode"] == "name"
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert set(fields) == {"k", "v_eur"}  # logical names in the schema
    assert fields["v_eur"]["metadata"]["delta.columnMapping.physicalName"] == "v"
    assert fields["k"]["metadata"]["delta.columnMapping.physicalName"] == "k"
    ids = {f["metadata"]["delta.columnMapping.id"] for f in fields.values()}
    assert ids == {1, 2}
    assert int(meta["configuration"]["delta.columnMapping.maxColumnId"]) == 2

    # physical layout is stable: every vintage's files carry "v"
    import pyarrow.parquet as pq

    for c in table.history():
        for f in c.files:
            names = set(pq.ParquetFile(str(table.path / f)).schema_arrow.names)
            assert names == {"k", "v"}, (c.version, names)

    # replay surfaces the LOGICAL schema with all values intact
    got = read_delta_log(spark, str(table.path))
    assert set(got.columns) == {"k", "v_eur"}
    assert got.count() == 100
    assert got.where(F.col("v_eur").isNull()).count() == 0
    assert got.agg(F.sum("v_eur")).collect()[0][0] == sum(2 * i for i in range(100))
    # native snapshot equality (order-insensitive)
    want = table.snapshot()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))


def test_restate_raises_on_concurrent_append(spark, table):
    """The Delta conflict matrix's non-rebaseable case: a full-state
    rewrite (delete/merge) computed against a base that moved must
    raise — silently publishing would drop the concurrent append."""
    from lakehouse_test_spark.plans.lakehouse import ConcurrentModificationError

    table.append(_kv(spark, 0, 50))
    other = LakehouseTable(spark, str(table.path))

    def race():
        table._pre_publish_hook = None  # one-shot
        other.append(_kv(spark, 50, 80))

    table._pre_publish_hook = race
    with pytest.raises(ConcurrentModificationError, match="concurrent commit"):
        table.delete_where("k < 10")
    # nothing was lost or half-applied: both appends visible, no delete
    assert table.snapshot().count() == 80
    # recompute-and-retry now succeeds and sees the concurrent rows
    table.delete_where("k < 10")
    assert table.snapshot().count() == 70


def test_dv_delete_raises_on_concurrent_restate(spark, table):
    """DV positions are keyed to the file set they were computed from;
    a concurrent restate invalidates them, so publish must raise."""
    from lakehouse_test_spark.plans.lakehouse import ConcurrentModificationError

    table.append(_kv(spark, 0, 50))
    other = LakehouseTable(spark, str(table.path))

    def race():
        table._pre_publish_hook = None
        other.delete_where("k >= 40")  # restate rewrites the files

    table._pre_publish_hook = race
    with pytest.raises(ConcurrentModificationError):
        table.delete_where_dv("k < 5")
    assert table.snapshot().count() == 40  # only the restate applied
    table.delete_where_dv("k < 5")  # retry against the new base
    assert table.snapshot().count() == 35


def test_compact_files_rebases_over_concurrent_append(spark, table):
    """The rebase case: partial compaction touches only its bin, so a
    concurrent append (disjoint by construction) must NOT abort it —
    the commit re-targets the new head and both changes survive."""
    c0 = table.append(_kv(spark, 0, 30))
    table.append(_kv(spark, 30, 60))
    other = LakehouseTable(spark, str(table.path))

    def race():
        table._pre_publish_hook = None
        other.append(_kv(spark, 60, 90))  # lands at v2 mid-compaction

    table._pre_publish_hook = race
    c = table.compact_files(c0.files)
    assert c.version == 3  # rebased past the concurrent append
    assert table.snapshot().count() == 90  # nothing lost
    live = {f for _c, f in table._live_files()}
    assert not (set(c0.files) & live)  # bin replaced
    assert set(c.files) <= live


def test_compact_files_rebases_over_disjoint_bin(spark, table):
    """Two partial compactions of DISJOINT bins commute (Delta's
    disjoint-files rule): the second rebases instead of aborting."""
    c0 = table.append(_kv(spark, 0, 30))
    c1 = table.append(_kv(spark, 30, 60))
    other = LakehouseTable(spark, str(table.path))

    def race():
        table._pre_publish_hook = None
        other.compact_files(c1.files)

    table._pre_publish_hook = race
    c = table.compact_files(c0.files)
    assert c.version == 3
    assert table.snapshot().count() == 60
    live = {f for _c, f in table._live_files()}
    assert not ((set(c0.files) | set(c1.files)) & live)


def test_compact_files_raises_on_concurrent_restate(spark, table):
    """A concurrent restate may drop the bin entirely — the compaction
    must abort for a replan, never publish stale files."""
    from lakehouse_test_spark.plans.lakehouse import ConcurrentModificationError

    c0 = table.append(_kv(spark, 0, 30))
    table.append(_kv(spark, 30, 60))
    other = LakehouseTable(spark, str(table.path))

    def race():
        table._pre_publish_hook = None
        other.delete_where("k >= 50")

    table._pre_publish_hook = race
    with pytest.raises(ConcurrentModificationError, match="replan"):
        table.compact_files(c0.files)
    assert table.snapshot().count() == 50  # restate won; table consistent


def test_delta_dv_bitmap_codec_roundtrip():
    """RoaringBitmapArray + Z85 (PROTOCOL.md §Deletion Vectors):
    array containers, >4096-dense bitmap containers, multi-bucket
    (>2^32) values, empty vectors — all roundtrip exactly; the Z85
    codec matches the ZeroMQ spec test vector."""
    import random

    from lakehouse_test_spark.plans.delta_export import (
        _z85_decode,
        _z85_encode,
        deserialize_dv,
        dv_descriptor,
        dv_positions,
        serialize_dv,
    )

    rng = random.Random(11)
    cases = [
        [],
        [0],
        [65535, 65536],                      # container-key boundary
        sorted(rng.sample(range(70000), 9000)),   # dense: bitmap container
        sorted(rng.sample(range(1 << 20), 500)),
        [7, (1 << 32) + 7, (3 << 32) + 1],   # multi-bucket, gap bucket
    ]
    for vals in cases:
        assert sorted(deserialize_dv(serialize_dv(vals))) == sorted(set(vals))
        d = dv_descriptor(vals)
        assert d["storageType"] == "i" and d["cardinality"] == len(set(vals))
        assert sorted(dv_positions(d)) == sorted(set(vals))
    hello = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert _z85_encode(hello) == "HelloWorld" and _z85_decode("HelloWorld") == hello


def test_delta_export_deletion_vectors(spark, table):
    """DV commits export as inline deletionVector descriptors on
    re-added files (reader 3 / writer 7 + table features), cumulative
    across overlapping DV commits, surviving checkpoints — and the
    replay equals the native snapshot at EVERY version (previously
    DV-deleted rows silently reappeared through the export)."""
    import json

    from lakehouse_test_spark.plans.delta_export import (
        _replay_state,
        export_delta_log,
        read_delta_log,
    )

    table.append(spark.range(100).select(F.col("id").alias("k")))
    table.delete_where_dv("k < 40")
    table.delete_where_dv("k >= 90")  # overlaps the same data files
    table.append(spark.range(100, 120).select(F.col("id").alias("k")))
    for _ in range(9):  # push past the checkpoint interval (10)
        table.append(spark.range(120, 122).select(F.col("id").alias("k")))
    log_dir = export_delta_log(spark, table)

    proto = next(
        json.loads(l)["protocol"]
        for l in (log_dir / f"{0:020d}.json").read_text().splitlines()
        if '"protocol"' in l
    )
    assert proto["minReaderVersion"] == 3 and proto["minWriterVersion"] == 7
    assert "deletionVectors" in proto["readerFeatures"]

    for v in range(table.latest_version() + 1):
        got = read_delta_log(spark, str(table.path), v)
        want = table.snapshot(version=v)
        assert got.exceptAll(want).count() == 0, f"v{v}: extra rows"
        assert want.exceptAll(got).count() == 0, f"v{v}: missing rows"

    # the checkpoint itself carries the descriptors (reader starts there)
    live, ckpt, _, _ = _replay_state(str(table.path))
    assert ckpt is not None
    dv_adds = [a for a in live.values() if a.get("deletionVector")]
    assert dv_adds and all(a["deletionVector"]["cardinality"] > 0 for a in dv_adds)


def test_delta_export_constraints_and_generated_columns(spark, table):
    """CHECK constraints export as delta.constraints.* configuration
    (legacy writer-3 feature) and generated columns as
    delta.generationExpression field metadata (writer 4) — protocol
    escalates accordingly."""
    import json

    from lakehouse_test_spark.plans.delta_export import export_delta_log

    table.add_constraint("positive_v", "v >= 0")
    table.add_generated_column("v2", "v * 2")
    table.append(spark.range(20).select(F.col("id").alias("k"), F.col("id").alias("v")))
    log_dir = export_delta_log(spark, table)

    actions = [
        json.loads(l) for l in (log_dir / f"{0:020d}.json").read_text().splitlines()
    ]
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto["minWriterVersion"] >= 4  # generated columns dominate
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["configuration"]["delta.constraints.positive_v"] == "v >= 0"
    fields = {f["name"]: f for f in json.loads(meta["schemaString"])["fields"]}
    assert fields["v2"]["metadata"]["delta.generationExpression"] == "v * 2"


def test_exports_survive_vacuum(spark, table):
    """Exports of a VACUUMed table (the normal production state) must
    succeed: vacuumed vintages keep their log entries with zeroed
    physical stats, the current snapshot replays exactly, and time
    travel below the horizon fails at scan time — the native
    VacuumHorizonError contract, mirrored. Previously both exporters
    crashed stat-ing the deleted files."""
    from lakehouse_test_spark.plans.delta_export import (
        export_delta_log,
        read_delta_log,
    )
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
        read_iceberg,
        _snapshot_id,
    )

    table.append(spark.range(50).select(F.col("id").alias("k")))
    table.delete_where_dv("k >= 45")  # DV whose parquet vacuum will keep/drop
    table.delete_where("k < 10")  # restate: prior files become unreachable
    table.vacuum(keep_versions=1)

    export_delta_log(spark, table)
    got = read_delta_log(spark, str(table.path))
    want = table.snapshot()
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0

    export_iceberg_metadata(spark, table)
    got_i = read_iceberg(spark, str(table.path))
    assert got_i.exceptAll(want).count() == 0 and want.exceptAll(got_i).count() == 0

    # below the horizon: the files are gone, reads fail at scan (native contract)
    with pytest.raises(Exception):
        read_delta_log(spark, str(table.path), 0).collect()
    with pytest.raises(Exception):
        read_iceberg(spark, str(table.path), _snapshot_id(0)).collect()


def test_incremental_readers_see_logical_names_after_rename(spark, table):
    """read_changes and read_changes_cdf must surface the LOGICAL
    schema after rename_column, like snapshot/scan_pruned — an
    incremental consumer and a batch reader of the same table cannot
    disagree on column names (previously they saw the physical name)."""
    table.append(spark.range(10).select(F.col("id").alias("v")))
    table.rename_column("v", "v_usd")
    table.append(spark.range(10, 20).select(F.col("id").alias("v_usd")))

    rc = table.read_changes(0)
    assert rc.columns == ["v_usd"]
    assert rc.agg(F.sum("v_usd")).collect()[0][0] == sum(range(10, 20))

    cdf0 = table.read_changes_cdf(-1)
    assert set(cdf0.columns) == {
        "v_usd", "_change_type", "_commit_version", "_commit_timestamp"
    }
    assert cdf0.agg(F.sum("v_usd")).collect()[0][0] == sum(range(20))
    cdf1 = table.read_changes_cdf(0)
    assert set(cdf1.columns) == {
        "v_usd", "_change_type", "_commit_version", "_commit_timestamp"
    }
