"""Tooling guard: ``plans/lakehouse.py`` owns the commit protocol.

Every other module commits through ``LakehouseTable``'s shared commit
step. None may describe files itself (import the footer helpers
``_file_stats`` / ``_footer_row_count``) or publish a log entry itself
(call ``_put_if_absent`` / ``_publish``), or the copies drift apart
again: lost zone maps, skipped checkpoints, a different rebase rule.
Test seams such as ``_pre_publish_hook`` stay allowed."""
from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "lakehouse_test_spark"
OWNER = PACKAGE / "plans" / "lakehouse.py"
PRIVATE_HELPERS = {"_file_stats", "_footer_row_count"}
PRIVATE_PUBLISHERS = {"_put_if_absent", "_publish"}


def _violations(path: Path) -> list[str]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom):
            out += [
                f"{path.name}:{node.lineno} imports {a.name}"
                for a in node.names
                if a.name in PRIVATE_HELPERS
            ]
        elif isinstance(node, ast.Attribute) and node.attr in PRIVATE_HELPERS:
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
    assert not found, "commit protocol used outside plans/lakehouse.py: " + "; ".join(found)


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
