"""Probe: commit-log checkpoint scaling (r5 VERDICT task #4 "done"
criterion — flat per-snapshot planning and per-batch commit cost on a
long-lived table).

Forges N metadata-only commits (planning never opens data files), then
times, at each decade:
  - _live_commits() with checkpoints (fast path) vs without (full parse)
  - stream_batch_high() — the streaming writer's per-batch replay dedup

Run: python tools/log_checkpoint_probe.py [--n 10000]
"""
from __future__ import annotations

import argparse
import json
import shutil
import sys
import tempfile
import time
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from lakehouse_test_spark.plans.lakehouse import Commit, LakehouseTable


def forge(
    t: LakehouseTable,
    n: int,
    checkpoint_every: int | None,
    blooms: bool = False,
) -> None:
    """Metadata-only log: streaming appends with a COMPACTION every
    500 commits (the realistic long-lived-table shape — OPTIMIZE keeps
    the live set bounded while the commit count grows without bound).
    ``blooms`` stamps each file with a realistic 1 KiB bloom bitset
    (m=8192) — the checkpoint-size audit."""
    import base64

    bloom = {
        "m": 8192,
        "k": 6,
        "b64": base64.b64encode(bytes(1024)).decode(),
    }
    t.log_dir.mkdir(parents=True, exist_ok=True)  # commits are hand-written
    for v in range(n):
        restate = v > 0 and v % 500 == 0
        f = f"data/x/{uuid.uuid4().hex}.parquet"
        stats: dict = {f: {"v": [v, v + 1]}}
        if blooms and not restate:
            stats[f]["__bloom__:v"] = bloom
        c = Commit(
            version=v,
            files=[f],
            row_count=10,
            operation="compact" if restate else f"stream-append-b{v}",
            stats=stats,
            restate=restate,
            data_change=not restate,
            schema={"v": "bigint"},
            txn=None if restate else ["stream-append", v],
        )
        (t.log_dir / f"{v:020d}.json").write_text(json.dumps(c.__dict__))
        if checkpoint_every and v > 0 and v % checkpoint_every == 0:
            t.checkpoint()


def timeit(fn, reps=5) -> float:
    best = float("inf")
    for _ in range(reps):
        s = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - s)
    return best


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=10_000)
    args = ap.parse_args()

    print(f"{'commits':>8} {'plan ckpt':>10} {'plan full':>10} {'dedup ckpt':>11} {'dedup full':>11}")
    for n in (100, 1_000, args.n):
        root = Path(tempfile.mkdtemp(prefix="lkhprobe-"))
        try:
            t = LakehouseTable(None, str(root / "ck"))
            forge(t, n, checkpoint_every=LakehouseTable.CHECKPOINT_INTERVAL)
            u = LakehouseTable(None, str(root / "full"))
            forge(u, n, checkpoint_every=None)
            plan_ck = timeit(lambda: t._live_commits())
            plan_full = timeit(lambda: u._live_commits())
            ded_ck = timeit(lambda: t.stream_batch_high("stream-append"))
            ded_full = timeit(lambda: u.stream_batch_high("stream-append"))
            assert t.stream_batch_high("stream-append") == n - 1
            assert u.stream_batch_high("stream-append") == n - 1
            fast = [(c.version, c.files) for c in t._live_commits()]
            ptr = t.log_dir / "_last_checkpoint"
            bak = ptr.read_text()
            ptr.unlink()  # force the full-parse path on the SAME log
            slow = [(c.version, c.files) for c in t._live_commits()]
            ptr.write_text(bak)
            assert fast == slow, "checkpointed plan diverged from full parse"
            # bloom size audit: with per-file bitsets, the checkpoint
            # BODY must stay lean (planning parses it every snapshot);
            # the bitsets ride in the lazily-read side-car
            b = LakehouseTable(None, str(root / "bl"))
            forge(b, n, checkpoint_every=None, blooms=True)
            b.checkpoint()
            ck = b._read_checkpoint()
            body_kb = (b._ckpt_dir() / f"{ck['version']}.json").stat().st_size / 1024

            def _side_kb(c) -> float:
                bl = c.get("blooms")
                if isinstance(bl, dict):  # round-8 per-commit shards
                    return sum(
                        (b._ckpt_dir() / f).stat().st_size for f in bl.values()
                    ) / 1024
                if isinstance(bl, str):  # legacy monolithic
                    return (b._ckpt_dir() / bl).stat().st_size / 1024
                return 0.0

            side_kb = _side_kb(ck)
            plan_bl = timeit(lambda: b._live_commits())
            # incremental side-car write cost: 10 new bloomy commits,
            # re-checkpoint, count bytes WRITTEN (new shard files) vs
            # the total side-car — must follow NEW files, not table
            # size (the r7 monolith rewrote everything every time)
            before = {
                p.name for p in b._ckpt_dir().iterdir()
                if p.name.endswith(".blooms.json")
            }
            forge2_base = n
            for v in range(forge2_base, forge2_base + 10):
                import base64 as _b64
                import uuid as _uuid

                f = f"data/x/{_uuid.uuid4().hex}.parquet"
                c2 = Commit(
                    version=v, files=[f], row_count=10,
                    operation=f"stream-append-b{v}",
                    stats={f: {"v": [v, v + 1], "__bloom__:v": {
                        "m": 8192, "k": 6,
                        "b64": _b64.b64encode(bytes(1024)).decode()}}},
                    schema={"v": "bigint"}, txn=["stream-append", v],
                )
                (b.log_dir / f"{v:020d}.json").write_text(json.dumps(c2.__dict__))
            b.checkpoint()
            written_kb = sum(
                p.stat().st_size
                for p in b._ckpt_dir().iterdir()
                if p.name.endswith(".blooms.json") and p.name not in before
            ) / 1024
            total_kb = _side_kb(b._read_checkpoint())
            print(
                f"{n:>8} {plan_ck*1e3:>9.1f}m {plan_full*1e3:>9.1f}m "
                f"{ded_ck*1e3:>10.1f}m {ded_full*1e3:>10.1f}m "
                f"ckpt {body_kb:>8.0f}K +blooms-sidecar {side_kb:>8.0f}K "
                f"plan(bloomy) {plan_bl*1e3:>6.1f}m "
                f"re-ckpt-wrote {written_kb:>6.0f}K of {total_kb:>8.0f}K total"
            )
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
