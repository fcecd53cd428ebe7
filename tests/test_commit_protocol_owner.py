"""Tooling guard: ``plans/lakehouse.py`` owns the commit protocol and
the read path.

Every other module commits through ``LakehouseTable``'s shared commit
step. None may describe files itself (import the footer helpers
``_file_stats`` / ``_footer_row_count``) or publish a log entry itself
(call ``_put_if_absent`` / ``_publish``), or the copies drift apart
again: lost zone maps, skipped checkpoints, a different rebase rule.
Likewise every other module reads through ``LakehouseTable.pin`` and
its ``Snapshot``; none may work out the live set, the DVs or the
schema from the log itself (the ``READ_PRIVATES`` below), or the
readers disagree again about what is live.
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


def _violations(path: Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom):
            out += [
                f"{path.name}:{node.lineno} imports {a.name}"
                for a in node.names
                if a.name in PRIVATE_HELPERS
            ]
        elif isinstance(node, ast.Attribute) and node.attr in PRIVATE_HELPERS | READ_PRIVATES:
            out.append(f"{path.name}:{node.lineno} uses {node.attr}")
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
        "commit protocol or read path used outside plans/lakehouse.py: "
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
