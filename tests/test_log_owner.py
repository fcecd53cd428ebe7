"""The log owner's read surface, Spark-free: commit timestamps that
never decrease with the version, reads that create nothing, and a
converted table whose first commit records its schema. Data files are
written with pyarrow and committed through ``LakehouseTable``'s own
commit step."""
from __future__ import annotations

import json
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from lakehouse_test_spark.plans.lakehouse import LakehouseTable


def _append(t: LakehouseTable, name: str, keys: list[int]):
    d = t.path / "data" / name
    d.mkdir(parents=True)
    pq.write_table(pa.table({"k": pa.array(keys, pa.int64())}), d / "part-0.parquet")
    return t._commit_files([f"data/{name}/part-0.parquet"], "append", schema={"k": "bigint"})


def test_rebased_commit_lands_with_a_later_timestamp(tmp_path):
    """A rebased append is stamped when it lands on main, not when it
    was described: ``ts`` never decreases with the version, both
    timestamp resolvers agree on a bound between two commits, and a
    read as of that bound does not see the later commit."""
    path = str(tmp_path / "t")
    a, b = LakehouseTable(None, path), LakehouseTable(None, path)
    _append(a, "base", [0])

    def race():
        # a concurrent writer takes the version this append planned on
        time.sleep(0.05)
        _append(b, "racer", [1])
        time.sleep(0.05)

    a._pre_publish_hook = race
    late = _append(a, "late", [2])
    assert late.version == 2  # rebased past the racer's v1
    ts = [a.commit(v).ts for v in range(3)]
    assert ts == sorted(ts) and ts[1] < ts[2]
    bound = (ts[1] + ts[2]) / 2
    assert a.version_at_timestamp(bound) == 1
    assert a.first_version_since(bound) == 2
    files = {f for _c, f in a.pin(timestamp=bound).files}
    assert files == {"data/base/part-0.parquet", "data/racer/part-0.parquet"}


def test_reading_a_missing_table_creates_nothing(tmp_path):
    from lakehouse_test_spark.sources.cdf_datasource import LakehouseCDFDataSource
    from lakehouse_test_spark.sources.lakehouse_datasource import LakehouseDataSource

    missing = tmp_path / "typo"
    with pytest.raises(FileNotFoundError):
        LakehouseTable(None, str(missing)).pin()
    with pytest.raises(FileNotFoundError):
        LakehouseCDFDataSource({"path": str(missing)}).schema()
    with pytest.raises(FileNotFoundError):
        LakehouseDataSource({"path": str(missing)}).schema()
    assert not missing.exists()


def test_convert_records_the_footer_schema(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64()), "s": ["a", "b"]}), src / "a.parquet"
    )
    pq.write_table(
        pa.table({"k": pa.array([3], pa.int64()), "x": pa.array([1.5], pa.float64())}),
        src / "b.parquet",
    )
    t = LakehouseTable(None, str(tmp_path / "t"))
    t.convert_from_parquet(str(src))
    v0 = t._commit_path(0)
    recorded = json.loads(v0.read_text())
    assert recorded["schema"] == {"k": "bigint", "s": "string", "x": "double"}
    schema = t.pin().schema
    # the same schema the footer fold gives a commit that records none
    del recorded["schema"]
    v0.write_text(json.dumps(recorded))
    assert t.pin().schema == schema
