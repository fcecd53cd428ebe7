"""The table's one commit path: every write describes its files and
publishes them through ``LakehouseTable._publish``, whose conflict rule
comes from the commit itself — appends rebase over anything, partial
rewrites rebase unless the bin was touched, restates and DV deletes
raise. Also pins what the shared step records for every write (zone
maps, schema, checkpoint cadence) and the atomic shallow-clone v0."""
from __future__ import annotations

import json

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import (
    ConcurrentModificationError,
    LakehouseTable,
)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")
    )


def _keys(t):
    return sorted(r["k"] for r in t.snapshot().collect())


def _ds_append(spark, t, lo, hi):
    """A DataSource append, driven at the commit step the ``lakehouse``
    writer's ``commit`` runs once its tasks have staged the files."""
    from lakehouse_test_spark.sources.lakehouse_datasource import _WriterState

    st = _WriterState({"path": str(t.path)}, False, _kv(spark, 0, 1).schema)
    ks = list(range(lo, hi))
    msg = st.write_batches(
        iter(
            [
                pa.record_batch(
                    [pa.array(ks, pa.int64()), pa.array([k % 2 for k in ks], pa.int64())],
                    names=["k", "g"],
                )
            ]
        )
    )
    st.publish([msg], operation="append", restate=False)


def _compact_first_commit(spark, t):
    t.compact_files(t.history()[0].files)


#: kind -> (write under test, keys it adds, keys it removes)
KINDS = {
    "append": (lambda spark, t: t.append(_kv(spark, 50, 55)), range(50, 55), ()),
    "append_partitioned": (
        lambda spark, t: t.append_partitioned(_kv(spark, 50, 55)),
        range(50, 55),
        (),
    ),
    "datasource_append": (lambda spark, t: _ds_append(spark, t, 50, 55), range(50, 55), ()),
    "compact_files": (_compact_first_commit, (), ()),
    "delete_where": (lambda spark, t: t.delete_where("k < 5"), (), range(5)),
    "delete_where_dv": (lambda spark, t: t.delete_where_dv("k < 5"), (), range(5)),
}
#: the conflict rule: the racers each kind rebases over; it raises
#: ConcurrentModificationError against every other racer
REBASES_OVER = {
    "append": {"append", "restate"},
    "append_partitioned": {"append", "restate"},
    "datasource_append": {"append", "restate"},
    "compact_files": {"append"},
    "delete_where": set(),
    "delete_where_dv": set(),
}

#: racer -> (its write, keys it adds, keys it removes)
RACERS = {
    "append": (lambda t: t.append(_kv(t.spark, 100, 105)), range(100, 105), ()),
    "restate": (lambda t: t.delete_where("k >= 35"), (), range(35, 40)),
}


@pytest.mark.parametrize("racer", sorted(RACERS))
@pytest.mark.parametrize("kind", sorted(KINDS))
def test_conflict_rule_comes_from_the_commit(spark, tmp_path, kind, racer):
    write, adds, removes = KINDS[kind]
    race, race_adds, race_removes = RACERS[racer]
    t = LakehouseTable(spark, str(tmp_path / "t"))
    t.append(_kv(spark, 0, 20), stats_cols=["k"])
    t.append(_kv(spark, 20, 40), stats_cols=["k"])
    if kind == "append_partitioned":
        t.set_partition_spec(["g"])
    base = t.latest_version()
    fired = []

    def hook():
        if not fired:  # one-shot: the racer's own publish must not re-race
            fired.append(True)
            race(LakehouseTable(spark, str(t.path)))

    # the DataSource commit step opens its own table instance: arm every
    # instance opened during the write, not just ``t``
    t._pre_publish_hook = hook
    orig_init = LakehouseTable.__init__

    def armed_init(self, *a, **kw):
        orig_init(self, *a, **kw)
        self._pre_publish_hook = hook

    keys = set(range(40)) - set(race_removes) | set(race_adds)
    rebases = racer in REBASES_OVER[kind]
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(LakehouseTable, "__init__", armed_init)
        if rebases:
            write(spark, t)
        else:
            with pytest.raises(ConcurrentModificationError):
                write(spark, t)
    assert fired, "the race was never injected"
    if rebases:
        keys = keys - set(removes) | set(adds)
        assert t.latest_version() == base + 2  # renumbered past the racer
    else:
        assert t.latest_version() == base + 1  # only the racer landed
    assert _keys(t) == sorted(keys)
    versions = [c.version for c in t.history()]
    assert versions == list(range(len(versions)))  # gap-free chain


def test_compact_files_keeps_zone_maps_and_schema(spark, tmp_path):
    """A compacted file carries zone maps for the columns its inputs
    had them for, so ``scan_pruned`` still skips it, and a recorded
    schema, so the append guard never falls back to its footer."""
    t = LakehouseTable(spark, str(tmp_path / "t"))
    for lo in (0, 10, 20):
        t.append(_kv(spark, lo, lo + 10), stats_cols=["k"])
    bin_files = [f for _c, f in t._live_files()]
    t.append(_kv(spark, 100, 110), stats_cols=["k"])
    c = t.compact_files(bin_files)
    logged = t.history()[-1]
    assert logged.version == c.version
    assert logged.schema == {"k": "bigint", "g": "bigint"}
    assert all(logged.stats[f]["k"] == [0, 29] for f in logged.files)
    df, scanned, total = t.scan_pruned("k", 100, 109)
    compacted = {str(t.path / f) for f in c.files}
    assert not compacted & {p.removeprefix("file:") for p in df.inputFiles()}
    assert scanned == total - len(c.files)
    assert sorted(r["k"] for r in df.collect()) == list(range(100, 110))


def test_partial_rewrite_on_checkpoint_version_checkpoints(spark, tmp_path):
    """The checkpoint cadence applies to every commit: a compaction
    landing on a multiple of CHECKPOINT_INTERVAL writes the checkpoint."""
    t = LakehouseTable(spark, str(tmp_path / "t"))
    n = LakehouseTable.CHECKPOINT_INTERVAL
    for i in range(n):
        t.append(_kv(spark, i * 3, i * 3 + 3))
    assert not (t.log_dir / "_last_checkpoint").exists()
    c = t.compact_files(t.history()[0].files)
    assert c.version == n
    ptr = json.loads((t.log_dir / "_last_checkpoint").read_text())
    assert ptr["version"] == n


def test_shallow_clone_v0_never_overwrites_a_racing_writer(spark, tmp_path):
    """Shallow clone publishes its v0 put-if-absent: a writer that lands
    v0 after the clone's emptiness check keeps its commit, and the
    clone raises instead of clobbering it."""
    src = LakehouseTable(spark, str(tmp_path / "src"))
    src.append(_kv(spark, 0, 10))
    target = tmp_path / "clone"
    orig = LakehouseTable._create

    def racing(self, commit):
        LakehouseTable(spark, str(self.path)).append(_kv(spark, 500, 503))
        return orig(self, commit)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(LakehouseTable, "_create", racing)
        with pytest.raises(RuntimeError, match="not empty"):
            src.clone(str(target))
    racer = LakehouseTable(spark, str(target))
    (v0,) = racer.history()
    assert (v0.version, v0.operation, v0.row_count) == (0, "append", 3)
    assert _keys(racer) == [500, 501, 502]
