"""Fixture loading and pinning read their facts from parquet footers.

``load_table`` reads with the schema of the table's footer, so it starts
no inference job, and ``pin_fixture_tables`` takes row counts from the
footers and runs only the persist-and-count materialisations, from a
thread pool, under the caller's job group."""
from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from lakehouse_test_spark import session as S

SF001 = "/root/testdata/sf0.001"
SF01 = "/root/testdata/sf0.01"


@pytest.fixture
def confs(spark):
    """The confs load_table reads under (set by every cold load)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


@pytest.fixture
def unpinned():
    S.unpin_fixture_tables()
    yield
    S.unpin_fixture_tables()


def _jobs(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result, the
    group's job count and the number of new jobs outside any group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    stray = set(tracker.getJobIdsForGroup(None)) - ungrouped
    return out, len(tracker.getJobIdsForGroup(group)), len(stray)


@pytest.mark.parametrize("name", S.TABLE_NAMES)
def test_footer_schema_matches_spark_inference(spark, confs, name):
    path = f"{SF001}/{name}.parquet"
    assert S._footer_schema(S._footer_files(path)) == spark.read.parquet(path).schema


def _arrow_timestamps() -> pa.Table:
    ts = [1_700_000_000_000_000, None]
    return pa.table(
        {
            "ns": pa.array([t and t * 1000 for t in ts], pa.timestamp("ns")),
            "us": pa.array(ts, pa.timestamp("us")),
            "tz": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "tz_ns": pa.array([t and t * 1000 for t in ts], pa.timestamp("ns", tz="Europe/Berlin")),
            "nested": pa.array(
                [{"t": 5, "xs": [1, 2]}, None],
                pa.struct(
                    [
                        pa.field("t", pa.timestamp("ns"), nullable=False),
                        pa.field("xs", pa.list_(pa.field("x", pa.int32(), nullable=False))),
                    ]
                ),
            ),
        }
    )


@pytest.mark.parametrize("int96", [False, True], ids=["int64", "int96"])
def test_footer_schema_matches_spark_for_arrow_timestamps(spark, confs, tmp_path, int96):
    path = str(tmp_path / "t.parquet")
    pq.write_table(_arrow_timestamps(), path, use_deprecated_int96_timestamps=int96)
    schema = S._footer_schema([path])
    assert schema == spark.read.parquet(path).schema
    want = {"ns": "bigint", "us": "timestamp", "tz": "timestamp", "tz_ns": "bigint"}
    if int96:  # INT96 has no unit or zone: every column reads as timestamp
        want = dict.fromkeys(want, "timestamp")
    assert {f.name: f.dataType.simpleString() for f in schema.fields[:4]} == want
    assert spark.read.schema(schema).parquet(path).collect() == spark.read.parquet(path).collect()


def test_unmapped_type_falls_back_to_inference(spark, confs, tmp_path):
    pq.write_table(pa.table({"u": pa.array([7], pa.uint32())}), str(tmp_path / "region.parquet"))
    assert S._footer_schema([str(tmp_path / "region.parquet")]) is None
    df = S.load_table(spark, str(tmp_path), "region")
    assert df.dtypes == [("u", "bigint")] and df.collect()[0].u == 7


def test_load_table_starts_no_spark_job(spark, tmp_path):
    ns = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1], "ts": ns}), str(tmp_path / "events.parquet"))
    for sf_dir in (SF001, str(tmp_path)):
        df, jobs, stray = _jobs(spark, "load", lambda: S.load_table(spark, sf_dir, "events"))
        assert (jobs, stray) == (0, 0)
        assert dict(df.dtypes)["ts"] == "timestamp"
    assert df.select(F.unix_micros("ts")).first()[0] == 1_700_000_000_123_456


def _sums(df):
    cols = [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
    return df.agg(F.count(F.lit(1)), *[F.sum(c) for c in cols]).first()


def test_pinning_runs_only_the_materialisations(spark, unpinned):
    names = ["region", "lineitem", "events"]
    cold = {n: S.load_table(spark, SF01, n) for n in names}
    want_sums = {n: _sums(df) for n, df in cold.items()}
    # the jobs one persist + count of each table starts by itself
    parts = {"region": 1, "lineitem": 2, "events": 2}
    alone = 0
    for n in names:
        df = cold[n].repartition(parts[n]).persist()
        alone += _jobs(spark, f"alone-{n}", df.count)[1]
        df.unpersist()

    _, jobs, stray = _jobs(spark, "pin", lambda: S.pin_fixture_tables(spark, SF01, names))
    assert (jobs, stray) == (alone, 0)
    for n in names:
        pinned = S._TABLE_CACHE[(os.path.abspath(SF01), n)]
        assert pinned.rdd.getNumPartitions() == parts[n]
        assert pinned.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
        got = _sums(pinned)
        assert got[0] == want_sums[n][0]
        assert list(got) == pytest.approx(list(want_sums[n]))


def test_failed_pin_leaves_no_stray_cache(spark, unpinned, tmp_path):
    names = ["region", "nation", "customer"]
    for n in names:
        shutil.copy(f"{SF001}/{n}.parquet", tmp_path)
    # zero customer's data pages; its footer stays readable
    path = tmp_path / "customer.parquet"
    raw = bytearray(path.read_bytes())
    footer = int.from_bytes(raw[-8:-4], "little")
    raw[4 : len(raw) - footer - 8] = bytes(len(raw) - footer - 12)
    path.write_bytes(raw)

    with pytest.raises(Exception, match="customer.parquet"):
        S.pin_fixture_tables(spark, str(tmp_path), names)
    assert sorted(k[1] for k in S._TABLE_CACHE) == ["nation", "region"]
    # a frame with the same plan finds no cache entry left behind
    failed = S.load_table(spark, str(tmp_path), "customer").repartition(1)
    assert failed.storageLevel == StorageLevel(False, False, False, False, 1)
