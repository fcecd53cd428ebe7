"""Native commit-LOG retention (round 10; r9 verdict "missing" #3).

``clean_log`` reclaims commit JSONs below min(newest checkpoint,
head − keep + 1) — the native twin of ``delta_export._clean_log`` —
so the per-trigger ``latestOffset`` directory listing stops growing
O(total commits) on long-lived tables. The hazard class is SILENT
truncated replay, so every guard here must be LOUD:

- head reads/plans keep working (checkpoint + tail);
- time travel below the cutoff raises the recipe unless a surviving
  restate covers the base;
- an incremental cursor / lagging STREAM whose window predates the
  earliest surviving JSON raises (engine-driven, real checkpoint);
- a FULL re-export raises; the age rail and dry_run behave like
  ``vacuum``'s.
"""
from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import (
    LakehouseTable,
    LogRetentionError,
)


def _mk(spark, path, n=12):
    t = LakehouseTable(spark, str(path))
    for i in range(n):
        t.append(
            spark.range(i * 10, i * 10 + 3).select(F.col("id").alias("k")),
            stats_cols=["k"],
        )
    return t


def _log_versions(t):
    return sorted(
        int(p.stem) for p in t.log_dir.glob("*.json") if p.stem.isdigit()
    )


def test_clean_log_reclaims_below_cutoff_and_head_reads_survive(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=12)  # auto-checkpoint at v10
    want = sorted(r["k"] for r in t.snapshot().collect())
    res = t.clean_log(keep_versions=3)
    # cutoff = min(ck=10, 11-3+1=9) = 9
    assert res == {"deleted": 9, "earliest": 9}
    assert _log_versions(t) == list(range(9, 12))
    # head snapshot, pruned scan, incremental tail: all intact
    assert sorted(r["k"] for r in t.snapshot().collect()) == want
    df, kept, total = t.scan_pruned("k", 100, 105)
    assert sorted(r["k"] for r in df.collect()) == [100, 101, 102]
    tail = t.read_changes_cdf(10)
    assert sorted(r["k"] for r in tail.collect()) == [110, 111, 112]
    # appends + checkpoints keep working; a second clean advances
    t.append(spark.range(500, 502).select(F.col("id").alias("k")))
    t.checkpoint()
    res2 = t.clean_log(keep_versions=2)
    assert res2["earliest"] == 11
    assert sorted(r["k"] for r in t.snapshot().collect()) == want + [500, 501]


def test_clean_log_requires_checkpoint_and_supports_rails(spark, tmp_path):
    t = _mk(spark, tmp_path / "rails", n=6)  # below auto-ckpt cadence
    assert t.clean_log(keep_versions=2) == {"deleted": 0, "earliest": 0}
    assert len(_log_versions(t)) == 6  # no checkpoint → nothing deleted
    t.checkpoint()
    # age rail: everything is younger than an hour → survives
    assert t.clean_log(keep_versions=2, min_age_seconds=3600)["deleted"] == 0
    assert len(_log_versions(t)) == 6
    # dry run reports, deletes nothing
    dr = t.clean_log(keep_versions=2, dry_run=True)
    assert dr["deleted"] == 0 and dr["would_delete"] == [0, 1, 2, 3]
    assert len(_log_versions(t)) == 6
    assert t.clean_log(keep_versions=2)["deleted"] == 4


def test_time_travel_below_cutoff_raises_recipe(spark, tmp_path):
    t = _mk(spark, tmp_path / "tt", n=12)
    v3_rows = sorted(r["k"] for r in t.snapshot(version=3).collect())
    t.clean_log(keep_versions=3)  # earliest surviving = 9
    with pytest.raises(LogRetentionError, match="clean_log"):
        t.snapshot(version=3).collect()
    with pytest.raises(LogRetentionError):
        t.read_changes_cdf(-1, upto_version=3).collect()
    # version_at_timestamp below the cutoff raises the same way
    first_ts = min(
        json.loads(p.read_text())["ts"] for p in t.log_dir.glob("*.json")
    )
    with pytest.raises(LogRetentionError, match="timestamp"):
        t.version_at_timestamp(first_ts - 1000)
    assert v3_rows  # (sanity: the pre-clean read was real)


def test_surviving_restate_keeps_time_travel_reachable(spark, tmp_path):
    """A restate at/above the cutoff supersedes everything below it,
    so time travel to versions AT/AFTER the surviving restate stays
    readable through the full-history path; versions BELOW it raise."""
    t = LakehouseTable(spark, str(tmp_path / "restate"))
    for i in range(4):
        t.append(spark.range(i * 10, i * 10 + 3).select(F.col("id").alias("k")))
    t.delete_where("k % 10 = 2")  # v4: restate — the surviving base
    for i in range(7):
        t.append(spark.range(900 + i, 901 + i).select(F.col("id").alias("k")))
    t.checkpoint()  # head = v11, checkpoint at 11
    want_v6 = sorted(r["k"] for r in t.snapshot(version=6).collect())
    t.clean_log(keep_versions=8)  # cutoff = min(11, 11-8+1) = 4
    assert _log_versions(t)[0] == 4  # the restate survives
    # v6 < checkpoint → full-history path, base = surviving restate v4
    assert sorted(r["k"] for r in t.snapshot(version=6).collect()) == want_v6
    # v3 predates the surviving restate: its chain is gone → recipe
    with pytest.raises(LogRetentionError, match="clean_log"):
        t.snapshot(version=3).collect()


def test_incremental_cursor_below_cutoff_raises(spark, tmp_path):
    t = _mk(spark, tmp_path / "cur", n=12)
    t.clean_log(keep_versions=3)  # earliest = 9
    with pytest.raises(LogRetentionError, match="fresh snapshot"):
        t.read_changes_cdf(2)
    with pytest.raises(LogRetentionError, match="fresh snapshot"):
        t.read_changes(2)
    # a cursor AT/after earliest−1 still replays (window complete)
    assert t.read_changes_cdf(8).count() == 9  # v9..v11, 3 rows each


def test_lagging_stream_raises_not_skips(spark, tmp_path):
    """Engine-driven: a checkpointed stream stops, the table rolls
    20 commits and cleans its log past the stream's floor — the
    restarted stream must FAIL with the restart recipe, never skip
    the reclaimed window silently (exactly-once would be broken)."""
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "lag"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
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
        q.awaitTermination(60)

    run_once()  # stream floor now at v0
    for i in range(20):
        t.append(spark.range(100 + i, 101 + i).select(F.col("id").alias("k")))
    t.checkpoint()
    t.clean_log(keep_versions=2)
    assert t.log_earliest() >= 19
    with pytest.raises(Exception, match="LogRetention|fresh snapshot"):
        run_once()


def test_full_export_raises_incremental_unaffected(spark, tmp_path):
    from lakehouse_test_spark.plans.delta_export import export_delta_log

    t = _mk(spark, tmp_path / "exp", n=12)
    export_delta_log(spark, t)  # full export BEFORE cleaning
    t.append(spark.range(700, 702).select(F.col("id").alias("k")))
    t.checkpoint()
    t.clean_log(keep_versions=2)
    # incremental resume reads only the tail: fine after cleaning
    export_delta_log(spark, t)
    # a FULL re-export would need the reclaimed chain: loud recipe
    import shutil

    shutil.rmtree(t.path / "_delta_log")
    with pytest.raises(LogRetentionError, match="full commit history"):
        export_delta_log(spark, t)


def test_delta_export_lagging_resume_raises(spark, tmp_path):
    """r10 ADVICE (high): an incremental Delta export whose exported
    head lags BELOW the clean_log cutoff must raise the recipe —
    commits() would otherwise silently omit the reclaimed
    commits and the export would be silently incomplete. (The
    companion test above pins that a CURRENT resume is unaffected.)"""
    from lakehouse_test_spark.plans.delta_export import export_delta_log

    t = _mk(spark, tmp_path / "lagexp", n=3)
    export_delta_log(spark, t)  # exported head = v2
    for i in range(20):
        t.append(spark.range(800 + i, 801 + i).select(F.col("id").alias("k")))
    t.checkpoint()
    t.clean_log(keep_versions=2)  # earliest ≥ 21 ≫ exported head 2
    assert t.log_earliest() > 3
    with pytest.raises(LogRetentionError, match="fresh snapshot"):
        export_delta_log(spark, t)


def test_iceberg_export_lagging_resume_raises(spark, tmp_path):
    """Same guard on the Iceberg exporter's resume branch: a resume
    point below the retention cutoff must never silently drop the
    reclaimed commits' appends from the exported snapshot chain."""
    from lakehouse_test_spark.plans.iceberg_export import (
        export_iceberg_metadata,
    )

    t = _mk(spark, tmp_path / "lagice", n=3)
    export_iceberg_metadata(spark, t)
    for i in range(20):
        t.append(spark.range(800 + i, 801 + i).select(F.col("id").alias("k")))
    t.checkpoint()
    t.clean_log(keep_versions=2)
    assert t.log_earliest() > 3
    with pytest.raises(LogRetentionError, match="fresh snapshot"):
        export_iceberg_metadata(spark, t)


def test_legacy_txn_migration_raises_on_cleaned_log(spark, tmp_path):
    """r10 ADVICE (medium): legacy_txn_compat's full-log txn-marker
    scan on a retention-cleaned log would silently lose markers in
    reclaimed JSONs — writer replay-dedup could then re-apply an
    already-committed micro-batch (duplicate rows). The migration
    session must fail loudly; the default (non-compat) path stays
    O(tail) and keeps working."""
    t = _mk(spark, tmp_path / "legtxn", n=12)
    t.clean_log(keep_versions=3)
    assert t.stream_batch_high("sinkA") == -1  # default path: fine
    tc = LakehouseTable(spark, str(t.path), legacy_txn_compat=True)
    with pytest.raises(LogRetentionError, match="full commit history"):
        tc.stream_batch_high("sinkA")


def test_post_clean_maintenance_still_works(spark, tmp_path):
    t = _mk(spark, tmp_path / "maint", n=12)
    t.clean_log(keep_versions=3)
    want = sorted(r["k"] for r in t.snapshot().collect())
    assert t.vacuum(keep_versions=1)["deleted"] >= 0  # no crash
    report = t.verify()
    assert report["ok"], report["errors"]
    t.compact(target_partitions=2)
    assert sorted(r["k"] for r in t.snapshot().collect()) == want


def test_cli_maintain_clean_log(spark, tmp_path, capsys):
    from lakehouse_test_spark.cli import main

    t = _mk(spark, tmp_path / "cli", n=12)
    rc = main(
        ["maintain", "--table", str(t.path), "--clean-log", "3"], spark=spark
    )
    assert rc in (0, None)
    out = capsys.readouterr().out
    assert "Cleaned log: 9 commit JSON(s), earliest surviving v9" in out
    assert _log_versions(t) == list(range(9, 12))


def test_auto_log_retention_property(spark, tmp_path):
    """set_log_retention: once the property is set, the 10-commit
    auto-checkpoint cadence also cleans the log — a long-lived sink's
    _log stays bounded with zero maintenance jobs, and every guard
    still applies."""
    t = LakehouseTable(spark, str(tmp_path / "auto"))
    t.set_log_retention(3)
    for i in range(25):
        t.append(
            spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("k")).coalesce(1)
        )
    # cadence checkpoints at v10 and v20 each cleaned below
    # min(ckpt, head-3+1): after v20's checkpoint cutoff = 18
    assert t.log_earliest() >= 18
    assert len(_log_versions(t)) <= 25 - 18 + 1
    assert t.snapshot().count() == 50  # head read intact
    with pytest.raises(LogRetentionError):
        t.snapshot(version=2).collect()
    # clearing the property stops further cleaning
    t.set_log_retention(None)
    before = len(_log_versions(t))
    for i in range(25, 36):
        t.append(
            spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("k")).coalesce(1)
        )
    assert len(_log_versions(t)) == before + 11


def test_auto_retention_hook_never_gates_commits(spark, tmp_path):
    """r10 ADVICE (low): the auto log-retention hook rides the
    checkpoint cadence inside the COMMIT path — a corrupt _meta.json
    (json.JSONDecodeError) or a mangled keep value (ValueError) must
    never fail an append; the hook is maintenance, the commit is
    not."""
    t = LakehouseTable(spark, str(tmp_path / "nogate"))
    for i in range(11):
        t.append(spark.range(i, i + 1).select(F.col("id").alias("k")))
    # corrupt meta: the HOOK itself must swallow the JSONDecodeError
    # (append's own earlier meta read fails for its own reasons — the
    # hook is the component under test; a corruption can land between
    # the two reads)
    good = (t.path / "_meta.json").read_text() if (t.path / "_meta.json").exists() else None
    (t.path / "_meta.json").write_text("{not json")
    t._maybe_checkpoint(10)  # cadence hit: must not raise
    if good is not None:
        (t.path / "_meta.json").write_text(good)
    else:
        (t.path / "_meta.json").unlink()
    # mangled keep value, END-TO-END: commits keep landing through
    # the cadence, retention simply doesn't fire
    meta = json.loads((t.path / "_meta.json").read_text()) if (
        t.path / "_meta.json"
    ).exists() else {}
    meta["log_retention_versions"] = "not-a-number"
    (t.path / "_meta.json").write_text(json.dumps(meta))
    for i in range(10):
        t.append(spark.range(200 + i, 201 + i).select(F.col("id").alias("k")))
    assert t.latest_version() == 20
    assert t.snapshot().count() == 21
    assert t.log_earliest() == 0  # retention never fired, never raised


def test_cli_alter_log_retention(spark, tmp_path, capsys):
    from lakehouse_test_spark.cli import main

    t = _mk(spark, tmp_path / "clialt", n=3)
    rc = main(
        ["alter", "--table", str(t.path), "--log-retention", "5"], spark=spark
    )
    assert rc in (0, None)
    assert "keep 5 versions" in capsys.readouterr().out
    assert t.meta()["log_retention_versions"] == 5
    main(["alter", "--table", str(t.path), "--log-retention", "0"], spark=spark)
    assert "log_retention_versions" not in t.meta()


def test_partial_rewrite_conflict_classification_on_cleaned_log(spark, tmp_path):
    """Review fix: _publish_partial's conflict classification must
    work on a retention-cleaned log (it parsed the FULL history, which
    now raises) — a partial compaction racing a concurrent append
    REBASES over it (disjoint-files rule) instead of dying with a
    spurious LogRetentionError."""
    t = _mk(spark, tmp_path / "pp", n=12)
    t.clean_log(keep_versions=3)  # earliest = 9
    bin_files = [f for _c, f in t.pin().files if "data/" in f][:1]
    fired = {"n": 0}

    def race():
        if fired["n"] == 0:
            fired["n"] += 1
            t2 = LakehouseTable(spark, str(t.path))
            t2.append(spark.range(999, 1000).select(F.col("id").alias("k")))

    t._pre_publish_hook = race
    want = sorted(r["k"] for r in t.snapshot().collect()) + [999]
    c = t.compact_files(bin_files)
    t._pre_publish_hook = None
    assert c.version == t.latest_version()
    assert sorted(r["k"] for r in t.snapshot().collect()) == want


def test_clean_log_records_earliest_before_deleting(spark, tmp_path):
    """Review fix (crash window): log_earliest is WRITE-AHEAD — if the
    unlink pass dies mid-way, the guards are CONSERVATIVE (cutoff
    already recorded), never disabled (a truncated chain silently
    replaying as a smaller table)."""
    from unittest import mock

    t = _mk(spark, tmp_path / "wal", n=12)
    real_unlink = __import__("pathlib").Path.unlink

    def boom(self, *a, **kw):
        raise OSError("simulated crash mid-delete")

    with mock.patch.object(__import__("pathlib").Path, "unlink", boom):
        with pytest.raises(OSError, match="simulated"):
            t.clean_log(keep_versions=3)
    # nothing was deleted, but the cutoff is already recorded …
    assert len(_log_versions(t)) == 12
    assert t.log_earliest() == 9
    # … so time travel below it is (conservatively) refused
    with pytest.raises(LogRetentionError):
        t.snapshot(version=3).collect()
    # and a re-run completes the clean
    assert t.clean_log(keep_versions=3)["deleted"] == 9
    assert real_unlink is not None


def test_age_rail_keeps_contiguous_suffix(spark, tmp_path):
    """Review fix: the age rail must never delete ABOVE a kept version
    — survivors are a contiguous suffix, so the single recorded
    log_earliest bound is honest (no hole above it for guards to
    vouch for)."""
    import os

    t = _mk(spark, tmp_path / "contig", n=12)
    past = time.time() - 7200
    for p in t.log_dir.glob("*.json"):
        os.utime(p, (past, past))
    # v5 is YOUNG (e.g. a copied/touched file); v0-v4 and v6-v8 old
    os.utime(t.log_dir / f"{5:020d}.json", None)
    res = t.clean_log(keep_versions=3, min_age_seconds=3600)
    # deletion stops AT v5: v0-v4 go, v5..v8 survive despite age
    assert res == {"deleted": 5, "earliest": 5}
    assert _log_versions(t) == list(range(5, 12))


def test_maintain_rollup_rebuilds_after_log_retention(spark, tmp_path):
    """Review fix: a lagging IVM cursor on a retention-cleaned source
    takes the documented rebuild-from-snapshot recovery instead of
    crashing with the (uncaught) LogRetentionError."""
    from lakehouse_test_spark.plans.lakehouse import maintain_rollup

    src = LakehouseTable(spark, str(tmp_path / "ivmsrc"))
    tgt = LakehouseTable(spark, str(tmp_path / "ivmtgt"))
    for i in range(3):
        src.append(
            spark.range(i * 10, i * 10 + 4).select(
                (F.col("id") % 2).alias("g"), F.col("id").alias("v")
            )
        )
    cursor = maintain_rollup(spark, src, tgt, ["g"], "v", -1)
    for i in range(3, 15):
        src.append(
            spark.range(i * 10, i * 10 + 4).select(
                (F.col("id") % 2).alias("g"), F.col("id").alias("v")
            )
        )
    src.checkpoint()
    src.clean_log(keep_versions=2)
    assert src.log_earliest() > cursor + 1
    new_cursor = maintain_rollup(spark, src, tgt, ["g"], "v", cursor)
    assert new_cursor == src.latest_version()
    got = {
        (r["g"], r["n_rows"], r["total"]) for r in tgt.snapshot().collect()
    }
    want = {
        (r["g"], r["n_rows"], r["total"])
        for r in src.snapshot()
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == want


def test_caughtup_stream_restarts_after_clean_log(spark, tmp_path):
    """Review fix: a CAUGHT-UP stream must restart cleanly after
    clean_log landed above its last batch's START offset — the engine
    re-plans the committed batch (never re-read), so the retention
    guard must fire at READ time only. The restarted stream then
    drains new appends exactly-once."""
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "cup"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
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
        q.awaitTermination(60)

    run_once()  # seed: committed batch (-1, 0]
    for i in range(12):
        t.append(spark.range(100 + i, 101 + i).select(F.col("id").alias("k")))
    for _ in range(3):
        run_once()  # catch up fully (floor now at head)
    t.checkpoint()
    t.clean_log(keep_versions=2)  # cutoff ABOVE the last batch's start
    assert t.log_earliest() >= 11
    t.append(spark.range(900, 902).select(F.col("id").alias("k")))
    run_once()  # restart: re-plans committed batch, then drains new
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    want = sorted(r["k"] for r in t.snapshot().collect())
    assert got == want


def test_starting_timestamp_stream_restarts_after_clean_log(spark, tmp_path):
    """Review fix: a checkpointed startingTimestamp stream must
    RESTART cleanly after clean_log reclaimed the commits around its
    original bound (the constructor resolves tolerantly; the floor
    fast-forwards from the checkpoint before anything is read) — while
    a FRESH start with the same now-reclaimed bound raises."""
    import json as _json

    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "ttr"))
    base = 1_700_000_000
    for i in range(4):
        t.append(spark.range(i, i + 1).select(F.col("id").alias("k")).coalesce(1))
    for p in sorted(t.log_dir.glob("*.json")):
        d = _json.loads(p.read_text())
        d["ts"] = float(base + 3600 * d["version"])
        p.write_text(_json.dumps(d))
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")
    ts_opt = repr(float(base + 3600 * 1))

    def run_once(ckpt):
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("startingTimestamp", ts_opt)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_once(ck)  # fresh start at v1, catches up to head
    # roll forward with PINNED timestamps, CATCH UP, then clean past
    # the original bound (the stream must not need the reclaimed
    # window — that's the caught-up-restart case under repair here;
    # a lagging stream still raises, tested elsewhere)
    for i in range(4, 18):
        t.append(spark.range(i, i + 1).select(F.col("id").alias("k")).coalesce(1))
        p = t.log_dir / f"{i:020d}.json"
        d = _json.loads(p.read_text())
        d["ts"] = float(base + 3600 * i)
        p.write_text(_json.dumps(d))
    for _ in range(3):
        run_once(ck)  # drain to the head before cleaning
    t.checkpoint()
    t.clean_log(keep_versions=3)
    assert t.log_earliest() >= 15
    t.append(spark.range(900, 902).select(F.col("id").alias("k")).coalesce(1))
    run_once(ck)  # RESTART from the same checkpoint: must not raise
    run_once(ck)
    got = sorted(r["k"] for r in spark.read.parquet(out).collect())
    # everything after v0 (the original resolved start): single-key
    # appends v1..v17 plus the two post-clean rows — spelled out
    # because the native cursor from v0 now (correctly) raises the
    # retention recipe on this cleaned log
    assert got == list(range(1, 18)) + [900, 901]
    # a FRESH start with the same bound is loud: the matching commits
    # were reclaimed
    with pytest.raises(Exception, match="LogRetention"):
        run_once(str(tmp_path / "ck_fresh"))


def test_partial_rewrite_with_reclaimed_base_raises(spark, tmp_path):
    """Review fix: a partial rewrite whose read base fell BELOW the
    retention cutoff while it was in flight must raise the recipe —
    classifying conflicts from the surviving tail alone could miss a
    reclaimed restate and let a stale rebase resurrect rewritten
    rows."""
    from lakehouse_test_spark.plans.lakehouse import LogRetentionError

    t = _mk(spark, tmp_path / "stale", n=4)
    bin_files = [f for _c, f in t.pin().files][:1]
    fired = {"n": 0}

    def stall_then_roll():
        if fired["n"] == 0:
            fired["n"] += 1
            t2 = LakehouseTable(spark, str(t.path))
            for i in range(12):
                t2.append(
                    spark.range(500 + i, 501 + i).select(F.col("id").alias("k"))
                )
            t2.checkpoint()
            t2.clean_log(keep_versions=2)

    t._pre_publish_hook = stall_then_roll
    with pytest.raises(LogRetentionError):
        t.compact_files(bin_files)
    t._pre_publish_hook = None


def test_skip_restates_unreachable_as_option(spark, tmp_path):
    """Review fix: no option spelling reaches the CDF planner's
    skip-restates behavior — the CDF reader rejects both spellings at
    CONSTRUCTION (so an explicit user schema, which bypasses
    DataSource.schema(), cannot smuggle it in), and the plain stream
    rejects the internal name with a pointer to skipChangeCommits."""
    from lakehouse_test_spark.sources.cdf_datasource import (
        LakehouseCDFStreamReader,
        register,
    )
    from lakehouse_test_spark.sources.lakehouse_datasource import (
        register as register_lh,
    )

    register(spark)
    register_lh(spark)
    t = LakehouseTable(spark, str(tmp_path / "skipopt"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    for opt in ("skipRestates", "skipChangeCommits"):
        with pytest.raises(ValueError, match="plain-stream"):
            LakehouseCDFStreamReader({"path": str(t.path), opt: "true"}, None)
    # explicit-schema load (bypasses schema()) still fails at start
    with pytest.raises(Exception, match="plain-stream"):
        q = (
            spark.readStream.format("lakehouse_cdf")
            .schema("k bigint, _change_type string, _commit_version int, "
                    "_commit_timestamp timestamp")
            .option("path", str(t.path))
            .option("skipRestates", "true")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "ckx"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(30)
    with pytest.raises(Exception, match="skipChangeCommits"):
        q = (
            spark.readStream.format("lakehouse")
            .option("path", str(t.path))
            .option("skipRestates", "true")
            .load()
            .writeStream.format("noop")
            .option("checkpointLocation", str(tmp_path / "cky"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(30)
