"""``ingest_scan``: the paper's dataflow as a closed loop with one
client — seeded batches appended to a ``LakehouseTable``, one read
after every commit, keyed upserts, compaction and vacuum.

Schedule (by commit index, never by timing): commit ``c`` is a keyed
``merge`` when ``c % 10 == 0``, else an ``append(stats_cols=[key])``
of the next staged batch. After each commit one read runs, rotating
through a snapshot count, a zone-map ``scan_pruned`` of a seeded key
range, a SQL range read through ``register_table`` (the Python
DataSource path), and ``read_changes`` from the consumer's cursor.
Every ``COMPACT_EVERY`` commits (just before a merge, when the most
small files have piled up) the append files written since the last
rewrite are compacted; every ``VACUUM_EVERY`` commits the table is
vacuumed. Each read is checked against an in-memory model of the
table; a wrong answer counts as a failed operation.
"""

from __future__ import annotations

import random
import shutil
import time
from pathlib import Path

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from lakehouse_test_spark.plans.lakehouse import (
    LakehouseTable,
    RestateAcrossCursorError,
    VacuumHorizonError,
)
from lakehouse_test_spark.sources.lakehouse_datasource import register_table

from perfbench import stats
from perfbench.datagen import NEW_KEY_BASE, IngestPlan
from perfbench.harness import Run

BASE_ROWS = 10_000
BATCH_ROWS = 500
MERGE_ROWS = 400
#: timed rounds per run, each of ``IngestPlan.MERGE_EVERY`` commits
#: ending in a merge: 62 operations, 15 beyond their p75
ROUNDS = 3
MAX_COMMITS = ROUNDS * IngestPlan.MERGE_EVERY
COMPACT_EVERY = 20
VACUUM_EVERY = 20
VACUUM_KEEP = 8
#: width of the seeded key ranges the pruned reads ask for
RANGE_KEYS = 2_000
READ_KINDS = ("snapshot", "scan_pruned", "sql_range", "read_changes")


def _dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())


class Model:
    """Expected table state: the seq (row version id) of every live key."""

    def __init__(self, plan: IngestPlan):
        n_regular = plan.base_rows + plan.max_commits * plan.batch_rows
        self.reg = np.full(n_regular, -1, dtype=np.int64)
        self.new: dict[int, int] = {}
        self.rows = 0
        self.seq_sum = 0
        self.key_sum = 0

    def apply(self, path: Path) -> tuple[int, int, int]:
        """Upsert the staged rows at ``path``; returns their (rows,
        seq sum, key sum), what a change feed must deliver for an append."""
        t = pq.read_table(path, columns=["key", "seq"])
        keys = t.column("key").to_numpy()
        seqs = t.column("seq").to_numpy()
        for k, s in zip(keys.tolist(), seqs.tolist()):
            if k >= NEW_KEY_BASE:
                old = self.new.get(k, -1)
                self.new[k] = s
            else:
                old = int(self.reg[k])
                self.reg[k] = s
            if old < 0:
                self.rows += 1
                self.key_sum += k
            else:
                self.seq_sum -= old
            self.seq_sum += s
        return len(keys), int(seqs.sum()), int(keys.sum())

    def expect(self) -> tuple[int, int, int]:
        return self.rows, self.seq_sum, self.key_sum

    def expect_range(self, lo: int, hi: int) -> tuple[int, int, int]:
        seg = self.reg[lo : hi + 1]
        live = seg >= 0
        keys = np.arange(lo, hi + 1)[live]
        return int(live.sum()), int(seg[live].sum()), int(keys.sum())


def _agg(df) -> tuple[int, int, int]:
    r = df.agg(F.count(F.lit(1)), F.sum("seq"), F.sum("key")).collect()[0]
    return int(r[0]), int(r[1] or 0), int(r[2] or 0)


class Ingest:
    def __init__(self, run: Run):
        """Stage every planned batch (untimed: benchmark input, not
        program work)."""
        self.run = run
        self.reps = 0
        self.plan = IngestPlan(run.work / "stage", run.seed, BASE_ROWS, BATCH_ROWS,
                               MERGE_ROWS, MAX_COMMITS)
        self.root: Path | None = None

    # -- setup ---------------------------------------------------------------

    def prepare(self, spark) -> None:
        """One set-up: seed the base table in a fresh directory and
        start every count from zero (earlier set-ups' tables and counts
        are dropped)."""
        run = self.run
        if self.root is not None:
            shutil.rmtree(self.root, ignore_errors=True)
        self.reps += 1
        self.root = run.work / f"table{self.reps}"
        self.table = LakehouseTable(spark, str(self.root))
        base = self.plan.commits[0]
        commit = self.table.append(spark.read.parquet(str(base.path)), stats_cols=["key"])
        self.model = Model(self.plan)
        self.model.apply(base.path)
        self.applied = [base.path]
        self.rng = random.Random(run.seed)
        # the same rotation on every seed, so every run holds the same
        # mix of read kinds
        self.rot = 0
        #: version -> (rows, seq sum, key sum) of every append commit
        self.appended: dict[int, tuple[int, int, int]] = {}
        self.cursor = commit.version
        self.restarts = 0
        #: live data files -> the append commit version that wrote them
        self.small_files: dict[str, int] = {}
        self.files_scanned = self.files_total = 0
        self.rows_ingested = self.user_bytes = 0
        self.data_bytes_written = self.merge_rows_rewritten = 0
        self.busy = 0.0
        self.commits = 0
        for name in list(run.layer_samples):
            if name.startswith(("lakehouse.", "sources.")):
                del run.layer_samples[name]

    # -- operations ----------------------------------------------------------
    # Each operation is split into the timed call into the program and an
    # untimed check plus bookkeeping; a failed check fails the operation.

    def _timed(self, kind: str, op, check) -> None:
        run = self.run
        run.tracer.op_id = run.oplog.total_attempted
        run.trace_op(kind)
        t0 = time.perf_counter()
        try:
            with run.tracer.span("bench", kind):
                result = op()
        except Exception as e:  # counted as a failed operation
            dt = time.perf_counter() - t0
            problem = f"{type(e).__name__}: {e}"[:300]
        else:
            dt = time.perf_counter() - t0
            problem = check(result)
        self.busy += dt
        run.record_busy(kind, dt)
        run.oplog.record(kind, dt, problem is None, problem)

    def _commit_bytes(self, files: list[str]) -> int:
        return sum((self.root / f).stat().st_size for f in files)

    def append(self, c) -> None:
        tr, t, samples = self.run.tracer, self.table, self.run.layer_samples

        def op():
            with tr.span("lakehouse", "latest_version"):
                t0 = time.perf_counter()
                head = t.latest_version()
                samples["lakehouse.latest_version_s"].append(time.perf_counter() - t0)
            with tr.span("lakehouse", "append"):
                return head, t.append(self.run.spark.read.parquet(str(c.path)), stats_cols=["key"])

        def check(result):
            head, commit = result
            self.appended[commit.version] = self.model.apply(c.path)
            self.applied.append(c.path)
            for f in commit.files:
                self.small_files[f] = commit.version
            self.data_bytes_written += self._commit_bytes(commit.files)
            if commit.version != head + 1 or commit.row_count != c.rows:
                return f"append v{commit.version} rows {commit.row_count}, want v{head + 1} rows {c.rows}"
            return None

        self._timed("append", op, check)

    def merge(self, c) -> None:
        def op():
            with self.run.tracer.span("lakehouse", "merge"):
                return self.table.merge(
                    self.run.spark.read.parquet(str(c.path)), key_cols=["key"], stats_cols=["key"]
                )

        def check(commit):
            self.model.apply(c.path)
            self.applied.append(c.path)
            self.small_files = {}
            self.merge_rows_rewritten += commit.row_count
            self.data_bytes_written += self._commit_bytes(commit.files)
            if commit.row_count != self.model.rows:
                return f"merge wrote {commit.row_count} rows, want {self.model.rows}"
            return None

        self._timed("merge", op, check)

    def compact(self) -> None:
        files = sorted(self.small_files)
        want = sum(self.appended[v][0] for v in set(self.small_files.values()))

        def op():
            with self.run.tracer.span("lakehouse", "compact_files"):
                t0 = time.perf_counter()
                commit = self.table.compact_files(files)
                self.run.layer_samples["lakehouse.compact_files_s"].append(time.perf_counter() - t0)
                return commit

        def check(commit):
            self.small_files = {}
            self.data_bytes_written += self._commit_bytes(commit.files)
            if commit.row_count != want:
                return f"compaction kept {commit.row_count} rows of {want}"
            return None

        self._timed("compact_files", op, check)

    def vacuum(self) -> None:
        def op():
            with self.run.tracer.span("lakehouse", "vacuum"):
                t0 = time.perf_counter()
                self.table.vacuum(keep_versions=VACUUM_KEEP)
                self.run.layer_samples["lakehouse.vacuum_s"].append(time.perf_counter() - t0)

        self._timed("vacuum", op, lambda _r: None)

    def _key_range(self) -> tuple[int, int]:
        top = int(np.count_nonzero(self.model.reg >= 0))
        lo = self.rng.randrange(0, max(1, top - RANGE_KEYS))
        return lo, lo + RANGE_KEYS - 1

    def read(self, kind: str) -> None:
        tr, t, samples = self.run.tracer, self.table, self.run.layer_samples
        if kind == "read_changes":
            return self.read_changes()
        if kind == "snapshot":
            want = self.model.expect()

            def op():
                with tr.span("lakehouse", "snapshot_plan"):
                    t0 = time.perf_counter()
                    df = t.snapshot()
                    t1 = time.perf_counter()
                with tr.span("lakehouse", "snapshot_scan"):
                    got = _agg(df)
                samples["lakehouse.snapshot_plan_s"].append(t1 - t0)
                samples["lakehouse.snapshot_scan_s"].append(time.perf_counter() - t1)
                return got
        elif kind == "scan_pruned":
            lo, hi = self._key_range()
            want = self.model.expect_range(lo, hi)

            def op():
                with tr.span("lakehouse", "scan_pruned"):
                    df, scanned, total = t.scan_pruned("key", lo, hi)
                    got = _agg(df)
                self.files_scanned += scanned
                self.files_total += total
                return got
        else:  # sql_range
            lo, hi = self._key_range()
            want = self.model.expect_range(lo, hi)

            def op():
                with tr.span("sources", "datasource_scan"):
                    t0 = time.perf_counter()
                    register_table(self.run.spark, str(self.root), "perfbench_ingest")
                    got = _agg(self.run.spark.sql(
                        f"SELECT seq, key FROM perfbench_ingest WHERE key BETWEEN {lo} AND {hi}"))
                    samples["sources.datasource_scan_s"].append(time.perf_counter() - t0)
                return got

        self._timed(kind, op, lambda got: None if got == want else f"{kind}: got {got}, want {want}")

    def read_changes(self) -> None:
        """The consumer's poll: rows since its cursor must be exactly the
        rows appended since (sent == received). A restate past the
        cursor restarts it from a snapshot, as documented."""
        tr, t = self.run.tracer, self.table

        def op():
            with tr.span("lakehouse", "read_changes"):
                t0 = time.perf_counter()
                head = t.latest_version()
                try:
                    got, restarted = _agg(t.read_changes(self.cursor, upto_version=head)), False
                except (RestateAcrossCursorError, VacuumHorizonError):
                    got, restarted = _agg(t.snapshot(version=head)), True
                self.run.layer_samples["lakehouse.read_changes_s"].append(time.perf_counter() - t0)
                return head, got, restarted

        def check(result):
            head, got, restarted = result
            if restarted:
                self.restarts += 1
                want = self.model.expect()
            else:
                sums = [self.appended.get(v, (0, 0, 0)) for v in range(self.cursor + 1, head + 1)]
                want = tuple(sum(x) for x in zip((0, 0, 0), *sums))
            self.cursor = head
            return None if got == want else f"read_changes: got {got}, want {want}"

        self._timed("read_changes", op, check)

    # -- loop ----------------------------------------------------------------

    def _round(self, n: int) -> None:
        """Round ``n``: commits ``n * MERGE_EVERY + 1`` up to the merge
        that closes it, each followed by its read and any due
        maintenance."""
        every = IngestPlan.MERGE_EVERY
        for c_idx in range(n * every + 1, (n + 1) * every + 1):
            c = self.plan.commits[c_idx]
            (self.append if c.kind == "append" else self.merge)(c)
            self.rows_ingested += c.rows
            self.user_bytes += c.path.stat().st_size
            self.read(READ_KINDS[self.rot % len(READ_KINDS)])
            self.rot += 1
            if c_idx % COMPACT_EVERY == COMPACT_EVERY - 1 and len(self.small_files) > 1:
                self.compact()
            if c_idx % VACUUM_EVERY == 0:
                self.vacuum()
        self.commits = c_idx

    def warm_up(self) -> None:
        """Untimed, on the last set-up's table: the first round of the
        schedule (every read kind and a merge), so JIT compilation and
        the Python DataSource workers' start-up are paid before timing;
        then the table is seeded afresh for the timed loop. The checks
        still count: a failed warm-up operation fails the run."""
        run = self.run
        timed, run.oplog = run.oplog, stats.OpLog()
        self._round(0)
        for kind, n in run.oplog.attempted.items():
            timed.attempted[f"warmup:{kind}"] += n
            timed.failed[f"warmup:{kind}"] += run.oplog.failed.get(kind, 0)
        timed.errors += run.oplog.errors
        run.oplog = timed
        self.prepare(run.spark)

    def timed_loop(self) -> None:
        """``ROUNDS`` rounds; past ``max_seconds`` no new round starts."""
        start = time.perf_counter()
        for n in range(ROUNDS):
            if time.perf_counter() - start >= self.run.max_seconds:
                break
            self._round(n)

    def read_latencies(self) -> list[float]:
        return self.run.oplog.all_latencies(list(READ_KINDS))

    # -- verification --------------------------------------------------------

    def verify(self) -> float:
        """Untimed: the final snapshot must equal a DuckDB last-writer-
        wins replay of every staged batch the loop committed. Returns
        bytes under the table root per byte of that snapshot rewritten
        once as zstd parquet."""
        run = self.run
        copy = run.work / "user_copy"
        self.table.snapshot().coalesce(1).write.option("compression", "zstd").parquet(str(copy))
        user_bytes = _dir_bytes(copy)
        stored = _dir_bytes(self.root)
        files = ", ".join(f"'{p}'" for p in self.applied)
        con = duckdb.connect()
        con.execute(f"""
            CREATE VIEW want AS SELECT key, seq, grp, value, payload FROM (
              SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
              FROM read_parquet([{files}])) WHERE rn = 1""")
        con.execute(f"CREATE VIEW got AS SELECT key, seq, grp, value, payload FROM '{copy}/*.parquet'")
        missing = con.execute("SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got)").fetchone()[0]
        extra = con.execute("SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want)").fetchone()[0]
        con.close()
        problem = f"{missing} rows missing, {extra} unexpected" if missing or extra else None
        run.oplog.check("verify:final_snapshot", problem)
        return stats.ratio(stored, user_bytes)


def ingest_scan(run: Run) -> dict[str, float]:
    ing = Ingest(run)
    run.phase("inputs")
    run.setup(ing.prepare, ing.warm_up)
    ing.timed_loop()
    run.phase("timed")
    run.tracer.enabled = run.traced
    run.tracer.op_id = None
    stored_ratio = ing.verify()
    run.phase("verify")
    lat = run.oplog.latencies
    e2e = run.mix_metrics(run.oplog.all_latencies())
    reads = ing.read_latencies()
    # per-class tails only where the class alone has the samples for
    # them; a run of --seconds 60 or more has them for appends and reads
    run.report.update({
        "rows_ingested_per_s": stats.ratio(ing.rows_ingested, ing.busy),
        "append_p50_s": stats.quantile_or_none(lat["append"], 0.5),
        "append_p90_s": stats.quantile_or_none(lat["append"], 0.9),
        "read_p50_s": stats.quantile_or_none(reads, 0.5),
        "read_p90_s": stats.quantile_or_none(reads, 0.9),
        "merge_p50_s": stats.quantile_or_none(lat["merge"], 0.5),
        "bytes_stored_per_user_byte": stored_ratio,
    })
    pl = run.per_layer
    pl["lakehouse.commits"] = ing.commits
    pl["lakehouse.log_bytes"] = _dir_bytes(ing.root / "_log")
    pl["lakehouse.files_scanned"] = ing.files_scanned
    pl["lakehouse.files_total"] = ing.files_total
    pl["lakehouse.skip_ratio"] = stats.skip_ratio(ing.files_scanned, ing.files_total)
    pl["lakehouse.consumer_restarts"] = ing.restarts
    pl["lakehouse.merge_rows_rewritten"] = ing.merge_rows_rewritten
    pl["lakehouse.live_files"] = len(ing.table.snapshot().inputFiles())
    pl["lakehouse.data_bytes_written"] = ing.data_bytes_written
    pl["lakehouse.write_amp"] = stats.write_amp(ing.data_bytes_written, ing.user_bytes)
    return e2e
