"""End-to-end stream fuzz (round 9 stretch).

Bounded property test: seeded-random commit scripts (appends, DV
deletes, restates, compactions — restates/compactions only in the
BACKLOG, where the snapshot seed must tolerate them) are driven
through REAL streams (real triggers, real checkpoints, restarts
between stages) and the drained feed is multiset-compared against the
native ``read_changes_cdf`` reconstruction. The r6 CDF-type bug and
the r8 chunked-seed duplicates are exactly the class this catches:
both shipped green past hand-driven offset tests and fell to the
first real-engine drain.
"""
from __future__ import annotations

import random
import tempfile

from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable
from lakehouse_test_spark.sources.cdf_datasource import register as register_cdf


def _rows(collected):
    return sorted(
        (r["k"], r["_change_type"], r["_commit_version"]) for r in collected
    )


def _apply_op(spark, t, rng, op, lo):
    """One random commit; returns the next unused key floor."""
    if op == "append":
        n = rng.randint(1, 6)
        df = spark.range(lo, lo + n).select(F.col("id").alias("k"))
        # sometimes a WIDE commit (n files) — exercises the file cap's
        # mid-commit offsets; sometimes a single file
        t.append(df.repartition(n) if rng.random() < 0.4 else df.coalesce(1))
        return lo + n
    if op == "dv":
        t.delete_where_dv(f"k % 7 = {rng.randint(0, 6)}")
        return lo
    if op == "restate":
        t.delete_where(f"k % 5 = {rng.randint(0, 4)}")
        return lo
    t.compact(target_partitions=rng.randint(1, 2))
    return lo


def _drain_available_now(spark, path, ck, out, cap):
    r = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", path)
        .option("startingMode", "snapshot")
    )
    for k, v in (cap or {}).items():
        r = r.option(k, str(v))
    q = (
        r.load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def _restart_until_idle(drain, ck, runs):
    """Restart ``drain`` on checkpoint ``ck`` up to ``runs`` times (a
    capped stream may need several runs to reach the head), stopping
    after the first restart that commits no new micro-batch: the
    stream is caught up, and every further restart on the unchanged
    checkpoint and log would repeat that same no-op run."""
    from pathlib import Path

    def committed():
        done = Path(ck, "commits")
        return len(list(done.glob("[0-9]*"))) if done.exists() else 0

    for _ in range(runs):
        before = committed()
        drain()
        if committed() == before:
            return


def test_stream_fuzz_snapshot_seed_exactly_once(spark, tmp_path):
    """5 seeded scripts × {backlog with restates/DVs/compactions} ×
    {uncapped, version-capped, file-capped, both} × a restart between two drain stages: the
    final sink multiset equals seed-at-seedv + changes-after-seedv."""
    register_cdf(spark)
    for seed in range(5):
        rng = random.Random(seed * 7919 + 13)
        t = LakehouseTable(
            spark, str(tmp_path / f"fuzz{seed}" / "t")
        )
        lo = 0
        lo = _apply_op(spark, t, rng, "append", lo)  # v0 is an append
        # backlog: anything goes (seed must tolerate restates)
        for _ in range(rng.randint(2, 4)):
            op = rng.choice(["append", "append", "dv", "restate", "compact"])
            lo = _apply_op(spark, t, rng, op, lo)
        if t.snapshot().count() == 0:
            lo = _apply_op(spark, t, rng, "append", lo)
        work = tempfile.mkdtemp(prefix=f"fuzz_ck_{seed}_")
        ck, out = f"{work}/ck", f"{work}/out"
        cap = rng.choice(
            [
                None,
                {"maxVersionsPerTrigger": rng.randint(1, 2)},
                {"maxFilesPerTrigger": rng.randint(2, 3)},
                {
                    "maxVersionsPerTrigger": 2,
                    "maxFilesPerTrigger": rng.randint(2, 4),
                },
            ]
        )
        _drain_available_now(spark, str(t.path), ck, out, cap)
        seedv = t.latest_version()
        # post-seed tail: only CDF-expressible ops (appends + DVs +
        # compactions; a restate would raise, by contract)
        for _ in range(rng.randint(1, 3)):
            op = rng.choice(["append", "append", "dv", "compact"])
            lo = _apply_op(spark, t, rng, op, lo)
        # restart (same checkpoint) — possibly several capped runs
        _restart_until_idle(
            lambda: _drain_available_now(spark, str(t.path), ck, out, cap),
            ck,
            16 if cap else 2,
        )
        got = _rows(spark.read.parquet(out).collect())
        want = _rows(
            t.read_changes_cdf(-1, upto_version=seedv)
            .unionByName(t.read_changes_cdf(seedv))
            .collect()
        )
        assert got == want, (
            f"seed {seed} (cap={cap}, seedv={seedv}): stream feed "
            f"diverged from native CDF\n got={got}\nwant={want}"
        )


def test_stream_fuzz_processing_time_live_ops(spark, tmp_path):
    """processingTime variant (the r8 bug's trigger family): 3 seeded
    scripts run a REAL continuous stream while appends/DVs/compactions
    land mid-stream, under a random cap — the drained feed must equal
    seed-at-seedv + changes-after-seedv exactly once."""
    import json
    import time
    from pathlib import Path

    register_cdf(spark)

    def _offsets(ck):
        out = []
        for f in sorted(
            Path(ck, "offsets").glob("[0-9]*"), key=lambda p: int(p.name)
        ):
            try:
                o = json.loads(f.read_text().splitlines()[-1])
                if isinstance(o, str):
                    o = json.loads(o)
                out.append(o)
            except (json.JSONDecodeError, IndexError):
                continue
        return out

    for seed in (101, 202, 303):
        rng = random.Random(seed)
        t = LakehouseTable(spark, str(tmp_path / f"ptfuzz{seed}" / "t"))
        lo = _apply_op(spark, t, rng, "append", 0)
        for _ in range(rng.randint(1, 3)):
            lo = _apply_op(
                spark, t, rng, rng.choice(["append", "dv", "restate"]), lo
            )
        if t.snapshot().count() == 0:
            lo = _apply_op(spark, t, rng, "append", lo)
        work = tempfile.mkdtemp(prefix=f"ptfuzz_{seed}_")
        ck, out = f"{work}/ck", f"{work}/out"
        cap = rng.choice(
            [None, {"maxVersionsPerTrigger": 2}, {"maxFilesPerTrigger": 3}]
        )
        r = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("startingMode", "snapshot")
        )
        for k, v in (cap or {}).items():
            r = r.option(k, str(v))
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            t0 = time.time()
            while not _offsets(ck) and time.time() - t0 < 60:
                time.sleep(0.2)
            seedv = _offsets(ck)[0]["version"]
            for _ in range(rng.randint(2, 4)):  # live ops mid-stream
                lo = _apply_op(
                    spark, t, rng, rng.choice(["append", "append", "dv", "compact"]), lo
                )
                time.sleep(0.2)
            head = t.latest_version()
            t0 = time.time()
            while time.time() - t0 < 90:
                offs = _offsets(ck)
                done = Path(ck, "commits")
                n_commits = (
                    len(list(done.glob("[0-9]*"))) if done.exists() else 0
                )
                if (
                    offs
                    and offs[-1].get("version", -1) >= head
                    and "files" not in offs[-1]
                    and n_commits >= len(offs)
                ):
                    break
                time.sleep(0.3)
        finally:
            q.stop()
            q.awaitTermination(15)
        got = _rows(spark.read.parquet(out).collect())
        want = _rows(
            t.read_changes_cdf(-1, upto_version=seedv)
            .unionByName(t.read_changes_cdf(seedv))
            .collect()
        )
        assert got == want, (
            f"seed {seed} (cap={cap}): processingTime feed diverged"
        )


def _rows_kv(collected, vcol):
    """(k, value, change, version) tuples — value normalized through
    str() so an int vintage and its widened decimal/bigint replay
    compare equal iff numerically equal."""
    def norm(x):
        if x is None:
            return None
        f = float(x)
        return int(f) if f == int(f) else f

    return sorted(
        (r["k"], norm(r[vcol]), r["_change_type"], r["_commit_version"])
        for r in collected
    )


def _apply_evo_op(spark, t, rng, op, lo, st):
    """Random commit over a (k, v) table, including SCHEMA EVOLUTION
    ops (rename chain, type widening) — the r9 verdict's missing fuzz
    dimension: evolution machinery existed but no real-stream fuzz
    crossed it with caps/restarts (the interplay class of r6/r8)."""
    if op == "append":
        n = rng.randint(1, 5)
        df = spark.range(lo, lo + n).select(
            F.col("id").alias("k"),
            (F.col("id") * 3).cast("int").alias(st["vcol"]),
        )
        t.append(df.repartition(n) if rng.random() < 0.4 else df.coalesce(1))
        return lo + n
    if op == "dv":
        t.delete_where_dv(f"k % 7 = {rng.randint(0, 6)}")
        return lo
    if op == "restate":
        t.delete_where(f"k % 5 = {rng.randint(0, 4)}")
        return lo
    if op == "rename":
        new = f"v{st['n_renames'] + 1}"
        t.rename_column(st["vcol"], new)
        st["vcol"], st["n_renames"] = new, st["n_renames"] + 1
        return lo
    if op == "widen":
        target = "bigint" if not st["widened"] else "decimal(18,2)"
        try:
            t.widen_column(st["vcol"], target)
            st["widened"] = True
        except ValueError:
            pass  # already at/above the target: no-op commit script
        return lo
    t.compact(target_partitions=rng.randint(1, 2))
    return lo


def test_stream_fuzz_schema_evolution_backlog(spark, tmp_path):
    """4 seeded scripts whose BACKLOG mixes appends/DVs/restates/
    compactions with renames and widenings, drained under
    logicalNames=true (the native-surface contract) with random caps
    and a restart: the feed must equal the native read_changes_cdf
    reconstruction under the EVOLVED schema — old vintages surface
    under current logical names with upcast values, dead physicals
    never resurface."""
    register_cdf(spark)
    for seed in (11, 22, 33, 44):
        rng = random.Random(seed * 104729 + 7)
        t = LakehouseTable(spark, str(tmp_path / f"evo{seed}" / "t"))
        st = {"vcol": "v", "n_renames": 0, "widened": False}
        lo = _apply_evo_op(spark, t, rng, "append", 0, st)
        ops = ["append", "append", "dv", "restate", "compact",
               "rename", "widen", "rename"]
        n_evo = 0
        for _ in range(rng.randint(4, 6)):
            op = rng.choice(ops)
            if op in ("rename", "widen"):
                n_evo += 1
            lo = _apply_evo_op(spark, t, rng, op, lo, st)
        while n_evo == 0:  # every script exercises >= 1 evolution op
            op = rng.choice(["rename", "widen"])
            lo = _apply_evo_op(spark, t, rng, op, lo, st)
            n_evo += 1
        if t.snapshot().count() == 0:
            lo = _apply_evo_op(spark, t, rng, "append", lo, st)
        work = tempfile.mkdtemp(prefix=f"evofuzz_{seed}_")
        ck, out = f"{work}/ck", f"{work}/out"
        cap = rng.choice(
            [
                None,
                {"maxVersionsPerTrigger": rng.randint(1, 2)},
                {"maxFilesPerTrigger": rng.randint(2, 3)},
            ]
        )

        def drain():
            r = (
                spark.readStream.format("lakehouse_cdf")
                .option("path", str(t.path))
                .option("startingMode", "snapshot")
                .option("logicalNames", "true")
            )
            for kk, vv in (cap or {}).items():
                r = r.option(kk, str(vv))
            q = (
                r.load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()
        seedv = t.latest_version()
        # live tail: CDF-expressible ops only (evolution pins below)
        for _ in range(rng.randint(1, 3)):
            lo = _apply_evo_op(
                spark, t, rng, rng.choice(["append", "append", "dv", "compact"]),
                lo, st,
            )
        _restart_until_idle(drain, ck, 12 if cap else 2)
        got = _rows_kv(spark.read.parquet(out).collect(), st["vcol"])
        want = _rows_kv(
            t.read_changes_cdf(-1, upto_version=seedv)
            .unionByName(t.read_changes_cdf(seedv))
            .collect(),
            st["vcol"],
        )
        assert got == want, (
            f"seed {seed} (cap={cap}, evolved col={st['vcol']}): "
            f"evolved-schema feed diverged\n got={got}\nwant={want}"
        )


def test_stream_fuzz_log_retention_interplay(spark, tmp_path):
    """r10 verdict #3: clean_log is the newest feature that can delete
    state under a live stream — the interplay class (new feature ×
    caps × restarts) that bit r6/r8. 3 seeded scripts mix retention
    events into the BACKLOG (seed must plan from checkpoint + tail)
    and the LIVE phase (a caught-up stream must drain exactly-once
    THROUGH the event); the epilogue pins the lagging side: a clean
    past the stream's floor makes the restart RAISE the recipe,
    never skip the reclaimed window."""
    import pytest

    register_cdf(spark)
    for seed in (5, 17, 29):
        rng = random.Random(seed * 6007 + 3)
        t = LakehouseTable(spark, str(tmp_path / f"retfuzz{seed}" / "t"))
        lo = _apply_op(spark, t, rng, "append", 0)
        for _ in range(rng.randint(3, 5)):
            op = rng.choice(["append", "append", "dv", "restate", "compact"])
            lo = _apply_op(spark, t, rng, op, lo)
        # retention event IN THE BACKLOG: the snapshot seed plans from
        # checkpoint + tail, so reclaimed backlog JSONs must not matter
        t.checkpoint()
        t.clean_log(keep_versions=rng.randint(1, 2))
        if t.snapshot().count() == 0:
            lo = _apply_op(spark, t, rng, "append", lo)
        work = tempfile.mkdtemp(prefix=f"retfuzz_{seed}_")
        ck, out = f"{work}/ck", f"{work}/out"
        cap = rng.choice(
            [
                None,
                {"maxVersionsPerTrigger": rng.randint(1, 2)},
                {"maxFilesPerTrigger": rng.randint(2, 3)},
            ]
        )
        _drain_available_now(spark, str(t.path), ck, out, cap)
        seedv = t.latest_version()
        # capture the native seed NOW: after the live-phase clean the
        # seedv snapshot may be below the cutoff (time travel there
        # raises by contract), but the stream's sink must still equal
        # what it actually consumed — this frozen copy + the tail
        want_seed = _rows(
            t.read_changes_cdf(-1, upto_version=seedv).collect()
        )
        # live ops, stream kept caught up, then a retention event that
        # keeps the post-seed tail (cutoff lands at/below seedv+1 so
        # the native tail reconstruction below stays readable)
        for _ in range(rng.randint(2, 4)):
            op = rng.choice(["append", "append", "dv", "compact"])
            lo = _apply_op(spark, t, rng, op, lo)
        _restart_until_idle(
            lambda: _drain_available_now(spark, str(t.path), ck, out, cap),
            ck,
            16 if cap else 2,
        )
        t.checkpoint()
        t.clean_log(keep_versions=max(1, t.latest_version() - seedv))
        # the caught-up stream drains THROUGH the retention event
        for _ in range(rng.randint(1, 2)):
            lo = _apply_op(spark, t, rng, rng.choice(["append", "dv"]), lo)
        _restart_until_idle(
            lambda: _drain_available_now(spark, str(t.path), ck, out, cap),
            ck,
            16 if cap else 2,
        )
        got = _rows(spark.read.parquet(out).collect())
        want = sorted(want_seed + _rows(t.read_changes_cdf(seedv).collect()))
        assert got == want, (
            f"seed {seed} (cap={cap}, seedv={seedv}): feed diverged "
            f"across retention events\n got={got}\nwant={want}"
        )
        # LAGGING epilogue: roll past the stream, clean past its floor
        for _ in range(6):
            lo = _apply_op(spark, t, rng, "append", lo)
        t.checkpoint()
        t.clean_log(keep_versions=1)
        assert t.log_earliest() > seedv + 1
        with pytest.raises(Exception, match="LogRetention|fresh snapshot"):
            _drain_available_now(spark, str(t.path), ck, out, cap)


def test_stream_caughtup_through_auto_retention(spark, tmp_path):
    """set_log_retention's auto-cadence (clean_log piggybacked on the
    checkpoint interval) fires UNDER a caught-up stream: the stream
    keeps draining exactly-once through the automatic reclaim — the
    expected rows are accumulated per commit BEFORE retention can
    touch them, so the assertion is independent of what survives."""
    register_cdf(spark)
    t = LakehouseTable(spark, str(tmp_path / "autoret"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    work = tempfile.mkdtemp(prefix="autoret_")
    ck, out = f"{work}/ck", f"{work}/out"
    _drain_available_now(spark, str(t.path), ck, out, None)
    want = _rows(t.read_changes_cdf(-1, upto_version=0).collect())
    t.set_log_retention(3)
    rng = random.Random(4242)
    lo = 100
    for i in range(12):  # crosses v10: auto checkpoint + clean_log
        if rng.random() < 0.25:
            t.delete_where_dv(f"k % 7 = {rng.randint(0, 6)}")
        else:
            t.append(spark.range(lo, lo + 2).select(F.col("id").alias("k")))
            lo += 2
        head = t.latest_version()
        want += _rows(t.read_changes_cdf(head - 1).collect())
        _drain_available_now(spark, str(t.path), ck, out, None)
    assert t.log_earliest() > 0  # the auto-reclaim really fired
    got = _rows(spark.read.parquet(out).collect())
    assert got == sorted(want)


def _wait_offsets(ck, timeout=60):
    import json
    import time
    from pathlib import Path

    def _offsets():
        o = []
        for f in sorted(
            Path(ck, "offsets").glob("[0-9]*"), key=lambda p: int(p.name)
        ):
            try:
                d = json.loads(f.read_text().splitlines()[-1])
                if isinstance(d, str):
                    d = json.loads(d)
                o.append(d)
            except (json.JSONDecodeError, IndexError):
                continue
        return o

    t0 = time.time()
    while not _offsets() and time.time() - t0 < timeout:
        time.sleep(0.2)
    return _offsets()


def test_midstream_rename_physical_mode_continues(spark, tmp_path):
    """Evolution LANDING MID-STREAM, default (physical-layout) mode:
    renames are pure metadata over STABLE physical names, so a rename
    committed while a continuous stream runs must neither crash it nor
    change its columns — post-rename appends replay under the physical
    name, values exactly-once vs native (renamed back)."""
    import time
    from pathlib import Path

    register_cdf(spark)
    t = LakehouseTable(spark, str(tmp_path / "midrenphys"))
    t.append(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 3).cast("int").alias("v")
        )
    )
    work = tempfile.mkdtemp(prefix="midrenp_")
    ck, out = f"{work}/ck", f"{work}/out"
    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .option("startingMode", "snapshot")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        offs = _wait_offsets(ck)
        seedv = offs[0]["version"]
        t.rename_column("v", "v_usd")  # lands MID-STREAM
        t.append(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                (F.col("id") * 3).cast("int").alias("v_usd"),
            )
        )
        head = t.latest_version()
        t0 = time.time()
        while time.time() - t0 < 90:
            offs = _wait_offsets(ck, timeout=1)
            done = Path(ck, "commits")
            n_done = len(list(done.glob("[0-9]*"))) if done.exists() else 0
            if (
                offs
                and offs[-1].get("version", -1) >= head
                and "files" not in offs[-1]
                and n_done >= len(offs)
            ):
                break
            assert q.exception() is None, q.exception()
            time.sleep(0.3)
    finally:
        q.stop()
        q.awaitTermination(15)
    df = spark.read.parquet(out)
    assert "v" in df.columns and "v_usd" not in df.columns
    got = _rows_kv(df.collect(), "v")
    native = (
        t.read_changes_cdf(-1, upto_version=seedv)
        .unionByName(t.read_changes_cdf(seedv))
        .withColumnRenamed("v_usd", "v")
    )
    assert got == _rows_kv(native.collect(), "v")


def test_midstream_rename_logical_mode_fails_loud_then_restart(spark, tmp_path):
    """logicalNames mode replays every vintage under the CURRENT
    logical schema, so a rename landing mid-run makes the next batch's
    columns diverge from the stream's pinned schema — the stream must
    FAIL LOUDLY with the restart recipe (Delta's source-schema-change
    contract; silent column drift would corrupt the consumer), and a
    RESTART from the same checkpoint re-pins the evolved schema and
    finishes exactly-once."""
    import time

    register_cdf(spark)
    t = LakehouseTable(spark, str(tmp_path / "midrenlog"))
    t.append(
        spark.range(4).select(
            F.col("id").alias("k"), (F.col("id") * 3).cast("int").alias("v")
        )
    )
    work = tempfile.mkdtemp(prefix="midrenl_")
    ck, out = f"{work}/ck", f"{work}/out"
    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .option("startingMode", "snapshot")
        .option("logicalNames", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        offs = _wait_offsets(ck)
        seedv = offs[0]["version"]
        t.rename_column("v", "v_usd")  # lands MID-STREAM
        t.append(
            spark.range(100, 103).select(
                F.col("id").alias("k"),
                (F.col("id") * 3).cast("int").alias("v_usd"),
            )
        )
        t0 = time.time()
        while q.exception() is None and time.time() - t0 < 90:
            time.sleep(0.3)
        exc = q.exception()
        assert exc is not None
        msg = str(exc) + getattr(exc, "desc", "") + repr(
            getattr(exc, "cause", "")
        )
        assert "restart the stream" in msg or "evolved schema" in msg, msg
    finally:
        try:
            q.stop()
            q.awaitTermination(15)
        except Exception:
            pass  # the query terminated with the EXPECTED error above
    # restart from the SAME checkpoint: each fresh AvailableNow run
    # re-pins the evolved schema and advances one batch (the Python
    # source runs single-batch per AvailableNow invocation) — loop
    # until the backlog is drained, exactly-once throughout
    for _ in range(3):
        q2 = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("startingMode", "snapshot")
            .option("logicalNames", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
    df = spark.read.option("mergeSchema", "true").parquet(out)
    # depending on when the rename landed relative to batch 0's tasks,
    # the sink holds only evolved-name files or a mix of both vintages
    vcols = [c for c in ("v_usd", "v") if c in df.columns]
    df = df.withColumn("vv", F.coalesce(*vcols) if len(vcols) > 1 else F.col(vcols[0]))
    got = _rows_kv(df.collect(), "vv")
    native = (
        t.read_changes_cdf(-1, upto_version=seedv)
        .unionByName(t.read_changes_cdf(seedv))
        .withColumnRenamed("v_usd", "vv")
    )
    assert got == _rows_kv(native.collect(), "vv")


def test_midstream_drop_logical_mode_fails_loud(spark, tmp_path):
    """A pinned column dropped after the logicalNames reader was built
    must fail the next read with the restart recipe, like a mid-stream
    rename, instead of replaying its stored values as NULLs. Driven on
    the reader directly: Spark builds it once per query run, so a
    constructed reader that outlives the drop is exactly that case."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    from lakehouse_test_spark.sources.cdf_datasource import LakehouseCDFStreamReader

    t = LakehouseTable(spark, str(tmp_path / "middroplog"))
    d = t.path / "data" / "c0"
    d.mkdir(parents=True)
    pq.write_table(pa.table({"k": [1, 2], "v": [3, 6]}), d / "part-0.parquet")
    t._commit_files(["data/c0/part-0.parquet"], "append", schema={"k": "bigint", "v": "bigint"})
    r = LakehouseCDFStreamReader(
        {"path": str(t.path), "logicalNames": "true"},
        ["k", "v"],
        {"k": "bigint", "v": "bigint"},
    )
    (part,) = r._tail_partitions(-1, 0)
    (batch,) = r.read(part)
    assert batch.column("v").to_pylist() == [3, 6]
    t.drop_column("v")  # lands after the reader was built
    with pytest.raises(RuntimeError, match="restart the stream"):
        list(r.read(part))
