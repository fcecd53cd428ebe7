"""Tooling guard: ``plans/lakehouse.py`` owns the commit protocol, the
read path and the on-disk log.

Every other module commits through ``LakehouseTable``'s shared commit
step. None may describe files itself (import the footer helpers
``_file_stats`` / ``_footer_row_count``) or publish a log entry itself
(call ``_put_if_absent`` / ``_publish``), or the copies drift apart
again: lost zone maps, skipped checkpoints, a different rebase rule.
Likewise every other module reads through ``LakehouseTable.pin`` and
its ``Snapshot``; none may work out the live set, the DVs or the
schema from the log itself (the ``READ_PRIVATES`` below), or the
readers disagree again about what is live. And none may list ``_log/``,
read ``_meta.json``, walk its rename chain or parse commits itself
(the ``LOG_PRIVATES`` and ``LOG_NAMES`` below): the change feed's own log reader once read a
legacy compaction as an insert of every compacted row.
Test seams such as ``_pre_publish_hook`` stay allowed."""
from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "lakehouse_test_spark"
OWNER = PACKAGE / "plans" / "lakehouse.py"
PRIVATE_HELPERS = {"_file_stats", "_footer_row_count"}
PRIVATE_PUBLISHERS = {"_put_if_absent", "_publish"}
READ_PRIVATES = {
    "_live_files",
    "_live_commits",
    "_files_for",
    "_live_dv_files",
    "_apply_dvs",
    "_recorded_schema",
    "_unified_live_schema",
    "_ckpt_blooms",
}
LOG_PRIVATES = {
    "_read_meta",
    "_commits_between",
    "_check_log_window",
    "_physical_of_logical",
    "_read_checkpoint",
    "_stream_batch_high",
    "_commit_of",
    "_log_earliest",
}
#: on-disk names only the owner opens (``_delta_log`` is the Delta
#: export's own directory, a different literal), and the ``_meta.json``
#: keys of the rename chain and drops only the owner walks
LOG_NAMES = {"_log", "_meta.json", "column_renames", "dropped_columns"}


def _violations(path: Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom):
            out += [
                f"{path.name}:{node.lineno} imports {a.name}"
                for a in node.names
                if a.name in PRIVATE_HELPERS
            ]
        elif isinstance(node, ast.Attribute) and node.attr in (
            PRIVATE_HELPERS | READ_PRIVATES | LOG_PRIVATES
        ):
            out.append(f"{path.name}:{node.lineno} uses {node.attr}")
        elif isinstance(node, ast.Constant) and node.value in LOG_NAMES:
            out.append(f"{path.name}:{node.lineno} names {node.value}")
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if name in PRIVATE_PUBLISHERS:
                out.append(f"{path.name}:{node.lineno} calls {name}")
    return out


def test_only_the_lakehouse_module_commits():
    found = [
        v
        for p in sorted(PACKAGE.rglob("*.py"))
        if p != OWNER
        for v in _violations(p)
    ]
    assert not found, (
        "commit protocol, read path or log used outside plans/lakehouse.py: "
        + "; ".join(found)
    )


def test_guard_sees_a_hand_rolled_commit(tmp_path):
    """The scan catches both shapes the old DataSource writer used."""
    p = tmp_path / "writer.py"
    p.write_text(
        "from lakehouse_test_spark.plans.lakehouse import _file_stats\n"
        "def publish(t, commit):\n"
        "    t._pre_publish_hook = None\n"
        "    t._publish(commit)\n"
    )
    assert [v.split(" ", 1)[1] for v in _violations(p)] == [
        "imports _file_stats",
        "calls _publish",
    ]


def test_guard_sees_a_hand_rolled_read(tmp_path):
    """The scan catches the shapes the old DataSource and CDF seed
    used to plan a read without a pinned snapshot."""
    p = tmp_path / "reader.py"
    p.write_text(
        "def plan(t, v):\n"
        "    pairs = t._live_files(v)\n"
        "    return pairs, t._live_dv_files(v), t._ckpt_blooms()\n"
    )
    assert [v.split(" ", 1)[1] for v in _violations(p)] == [
        "uses _live_files",
        "uses _live_dv_files",
        "uses _ckpt_blooms",
    ]


def test_guard_sees_a_hand_rolled_log_reader(tmp_path):
    """The scan catches the shapes the old change-feed reader used to
    read the log without the owner."""
    p = tmp_path / "feed.py"
    p.write_text(
        "import os\n"
        "def head(t, path):\n"
        "    with os.scandir(path / '_log') as it:\n"
        "        names = [e.name for e in it]\n"
        "    return names, t._read_meta()\n"
        "def renames(meta):\n"
        "    return dict(meta.get('column_renames', []))\n"
    )
    assert sorted(v.split(" ", 1)[1] for v in _violations(p)) == [
        "names _log",
        "names column_renames",
        "uses _read_meta",
    ]


def test_cdf_tail_skips_a_legacy_compaction(tmp_path):
    """A compact commit written before the ``restate`` flag existed
    changes no rows: the change feed plans nothing for it (it used to
    replay every compacted row as a fresh insert)."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable
    from lakehouse_test_spark.sources.cdf_datasource import LakehouseCDFStreamReader

    t = LakehouseTable(None, str(tmp_path / "t"))
    for i, op, extra in (
        (0, "append", {}),
        (1, "append", {}),
        (2, "compact", {"restate": True, "data_change": False}),
    ):
        d = t.path / "data" / f"c{i}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"k": [3 * i, 3 * i + 1, 3 * i + 2]}), d / "part-0.parquet")
        t._commit_files([f"data/c{i}/part-0.parquet"], op, schema={"k": "bigint"}, **extra)
    v2 = t.log_dir / f"{2:020d}.json"
    legacy = json.loads(v2.read_text())
    del legacy["restate"], legacy["data_change"]
    v2.write_text(json.dumps(legacy))
    parts = LakehouseCDFStreamReader({"path": str(t.path)}, None)._tail_partitions(-1, 2)
    assert sorted(p.version for p in parts) == [0, 1]
