"""A minimal versioned lakehouse table: parquet data files + a JSON
commit log, giving snapshot isolation, time travel, and incremental
(changes-since) reads.

This is the Spark-native replacement for the reference's
tiered-storage scan coordination (SURVEY.md §2a ops 29-33,
PerformanceConsumer.java:183-267): where the reference polls an
offload cursor, skips non-offloaded segments, and force-unloads
broker caches, a lakehouse table makes *committed == readable*:

- op 29 offload-watermark read  → ``latest_version()`` (read the log)
- op 30 latest-offloaded-segment → max committed version
- op 31 tier-aware skip         → dissolves: snapshots only list
                                   committed files
- op 32 cache eviction          → dissolves: object-store reads
- op 33 offload trigger         → ``append()``'s atomic log commit;
                                   compaction analog: ``compact()``

Scale: the log holds file *paths + stats*, never data; commits are
O(1) driver-side renames; reads hand Spark an explicit file list so
planning cost is proportional to the snapshot, and data I/O stays
fully distributed. (Real deployments would swap this for Delta/
Iceberg — same contract, battle-tested log.)
"""

from __future__ import annotations

import json
import re as _re
import os
import shutil
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import time as _time
from dataclasses import field as dataclasses_field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import col as F_col
from pyspark.sql.functions import lit as F_lit

from lakehouse_test_spark.registry import query as _query


@dataclass
class Commit:
    version: int
    files: list[str]
    row_count: int
    operation: str
    #: wall-clock commit time (epoch seconds) — powers TIMESTAMP AS OF
    ts: float = dataclasses_field(default_factory=_time.time)
    # per-file column stats (zone maps): {file: {col: [min, max]}}
    stats: dict | None = None
    #: True when this commit's files REPLACE the table (merge/delete/
    #: compact rewrite the full snapshot; readers treat it as a base)
    restate: bool = False
    #: False when the rewrite changes no logical rows (pure compact) —
    #: the Delta `dataChange=false` flag that incremental readers skip
    data_change: bool = True
    #: deletion-vector parquet files (Delta DV analog): (file, pos)
    #: pairs of rows logically deleted WITHOUT rewriting data files
    dv_files: list[str] | None = None
    #: rows removed by this commit's deletion vectors
    dv_row_count: int = 0
    #: files this commit REPLACES (Delta RemoveFile analog) — partial
    #: rewrites (bin compaction) remove a few files and add their
    #: combined replacement without restating the whole snapshot
    removed_files: list[str] | None = None
    #: PHYSICAL-name schema of this commit's data files
    #: ({col: spark_ddl}) — the Delta metaData-action analog. Lets
    #: (a) an EMPTY restate (truncating overwrite) define the table
    #: schema with zero data files, and (b) schema planning /
    #: write-time enforcement read O(live commits) log JSON instead
    #: of O(live files) parquet footers. ``None`` on legacy commits
    #: (pre-schema logs) and metadata-only commits — readers fall
    #: back to footer reads for those.
    schema: dict | None = None
    #: streaming idempotence marker ``[appId, batchVersion]`` — the
    #: Delta SetTransaction-action analog, written ONLY by streaming
    #: writers. Replay dedup and the Delta-export SetTransaction are
    #: driven by THIS field, never by parsing the operation name: a
    #: user-labeled commit like ``operation="load-b7"`` must not be
    #: mistaken for micro-batch 7 of a job named "load" (that misread
    #: silently discarded a resuming stream's first batches).
    txn: list | None = None


def txn_marker(c: Commit, legacy: bool = False) -> tuple[str, int] | None:
    """Idempotence marker of a commit: the explicit ``txn`` field —
    and, ONLY when ``legacy=True``, a fallback parse of the pre-r7
    operation-name encoding ``<appId>-b<N>`` for commits lacking the
    field. The fallback is opt-in because the two failure modes are
    asymmetric: without it, a table written by the previous code can
    re-commit an already-applied micro-batch on resume (duplicates);
    WITH it always on, a user commit hand-labeled ``load-b7`` is
    misread as micro-batch 7 of app "load" and a resuming stream
    silently DROPS its first 8 batches (data loss — the r7 bug the
    explicit field fixed, pinned in ``test_stream_batch_high_water``).
    Set ``LakehouseTable(..., legacy_txn_compat=True)`` for the first
    session on an upgraded pre-txn-field table, checkpoint once (the
    markers fold into the pointer's txn map), then drop the flag —
    see USAGE.md."""
    if c.txn:
        return c.txn[0], int(c.txn[1])
    if legacy:
        pre, _, num = (c.operation or "").rpartition("-b")
        if pre and num.isdigit():
            return pre, int(num)
    return None


@dataclass(frozen=True)
class Snapshot:
    """One resolved version of a table: everything a read of it
    needs, taken from the log once by :meth:`LakehouseTable.pin`.
    Every read plans from one of these, so files, deletion vectors,
    schema and metadata always come from the same version — a
    commit landing mid-read cannot mix two versions into one result.
    Immutable by contract: readers never re-resolve "latest"."""

    #: the resolved version (a branch pin: the branch head; -1: empty)
    version: int
    #: the live commit chain: the latest restate plus every later one
    commits: tuple[Commit, ...]
    #: live (owning commit, file) pairs, ``removed_files`` applied
    files: tuple[tuple[Commit, str], ...]
    #: live deletion-vector files
    dv_files: tuple[str, ...]
    #: unified PHYSICAL schema {col: ddl}, folded from the commits'
    #: recorded schemas (footers only for commits that record none),
    #: dropped columns excluded, widening targets applied
    schema: dict
    #: ``_meta.json`` as read at pin time (renames, drops, widenings)
    meta: dict
    #: loads the pinned checkpoint's side-car bloom descriptors —
    #: lazily, only point lookups and self-contained copies need them
    blooms: Callable[[], dict] = dataclasses_field(default=dict, repr=False, compare=False)

    @property
    def dv_rows(self) -> int:
        return sum(c.dv_row_count for c in self.commits)

    @property
    def rows(self) -> int:
        """Live rows from the log alone: every live commit's rows
        except rewrites that only move rows (``data_change=False``
        with ``removed_files`` — their rows are already counted under
        the files they replaced), minus rows deleted by live DVs."""
        return (
            sum(c.row_count for c in self.commits if c.data_change or not c.removed_files)
            - self.dv_rows
        )

    def file_stats(self, c: Commit, f: str, blooms: bool = False) -> dict:
        """Per-file stats of live file ``f`` owned by ``c``; with
        ``blooms`` the side-car bloom descriptors are overlaid too
        (inline entries win)."""
        own = (c.stats or {}).get(f) or {}
        return {**self.blooms().get(f, {}), **own} if blooms else own


_DV_DDL = "_dv_file STRING, _dv_pos BIGINT"

#: marks a footer type the fold compares by exact string only (nested
#: vintages never conflict); stripped once the fold is done
_OPAQUE = "__opaque__:"


def _ddl(schema: dict) -> str:
    """{col: ddl} → the DDL string ``spark.read.schema`` takes."""
    return ", ".join(f"`{n}` {t}" for n, t in schema.items())


class ConcurrentModificationError(RuntimeError):
    """A concurrent commit conflicts with this transaction — the Delta
    conflict-matrix outcome when rebasing is unsafe: a restate
    (merge/delete/compact/restore) or DV delete computed against a
    base that moved must be recomputed from a fresh snapshot, never
    silently replayed (it would drop the concurrent commit's rows)."""


class RestateAcrossCursorError(RuntimeError):
    """An incremental reader's cursor predates a logical restate
    (merge/delete): the change feed cannot express the delta, so the
    reader must restart from a fresh snapshot (Delta/Iceberg raise the
    same way when dataChange rewrites cross an incremental-read range).
    """


class VacuumHorizonError(RuntimeError):
    """Time travel below the vacuum horizon: the requested version's
    files were physically deleted by ``vacuum`` (Delta raises the same
    when VACUUM removed files a past version needs)."""


class LogRetentionError(RuntimeError):
    """The operation needs commit JSONs that ``clean_log`` reclaimed
    (metadata retention, Delta's log cleanup analog): time travel
    below the retention cutoff, an incremental-read window whose floor
    predates it, or a full-history export of a cleaned log. Recovery
    is the same recipe as the vacuum horizon: restart the reader from
    a fresh snapshot / re-point time travel at a retained version —
    never silently replay a truncated chain (missing early commits
    would fabricate a smaller table)."""


class ConstraintViolationError(RuntimeError):
    """A write violated a table CHECK constraint; nothing was
    committed (validation runs before any file lands)."""



def ts_micros(ts) -> int | None:
    """Commit timestamp (epoch-seconds float, the ``Commit.ts`` field)
    → integer MICROSECONDS — the one canonical conversion behind the
    change feed's ``_commit_timestamp`` column. Both surfaces (native
    :meth:`LakehouseTable.read_changes_cdf` and the ``lakehouse_cdf``
    DataSource) call THIS function, so a float-rounding disagreement
    in the last microsecond between them is structurally impossible
    (the two feeds are hash-compared row-for-row in tests)."""
    return None if ts is None else int(round(float(ts) * 1_000_000))


def _footer_row_count(root: Path, files: list[str]) -> int:
    """Exact commit row count from parquet footers (driver-side
    metadata read) — replaces a per-commit Spark count job; at one
    commit per streaming micro-batch that job was the sink's single
    biggest fixed cost."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(str(root / f)).metadata.num_rows for f in files)


def _file_stats(path: Path, cols: list[str]) -> dict:
    """Min/max per column from the parquet footer (driver-side, no
    data read — the same stats Delta/Iceberg keep in their logs)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(str(path)).metadata
    out: dict[str, list] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name not in cols or col.statistics is None:
                continue
            st = col.statistics
            if not st.has_min_max:
                continue
            lo, hi = st.min, st.max
            if name in out:
                out[name] = [min(out[name][0], lo), max(out[name][1], hi)]
            else:
                out[name] = [lo, hi]
    return out


class LakehouseTable:
    """Append-only versioned table at ``path`` (data/ + _log/)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        legacy_txn_compat: bool = False,
    ):
        self.spark = spark
        self.path = Path(path)
        self.log_dir = self.path / "_log"
        self.log_dir.mkdir(parents=True, exist_ok=True)
        #: opt-in migration shim for tables written before the explicit
        #: Commit.txn field: parse legacy '<appId>-b<N>' operation
        #: labels as idempotence markers (see txn_marker). One
        #: checkpoint() under this flag folds the legacy markers into
        #: the pointer's txn map; then drop the flag.
        self.legacy_txn_compat = legacy_txn_compat
        #: test seam: invoked right before a commit's publish attempt —
        #: lets concurrency tests inject a racing writer deterministically
        self._pre_publish_hook = None

    # -- log -----------------------------------------------------------------

    def _commit_path(self, version: int) -> Path:
        return self.log_dir / f"{version:020d}.json"

    def _put_if_absent(self, commit: "Commit", target: Path) -> bool:
        """Write ``commit`` to ``target`` with a true atomic
        put-if-absent: stage a tmp file, then ``os.link`` it, which
        raises FileExistsError atomically in the kernel. ``os.rename``
        silently REPLACES an existing target on POSIX, so an
        exists()-then-rename pair lets two racing writers both pass
        the check and the later rename clobber the earlier commit —
        the exact lost-update the commit protocol exists to prevent.
        A crash never leaves torn JSON at ``target``; the tmp file is
        always removed. Returns True iff we won."""
        tmp = self.log_dir / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(commit.__dict__))
        try:
            os.link(tmp, target)
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)
        return True

    def _publish(self, commit: "Commit") -> "Commit":
        """The one path onto the main log: atomically publish
        ``commit`` at its version. If a concurrent commit took that
        version, the commit's own fields decide the outcome (the Delta
        conflict matrix):

        - a restate or deletion-vector commit was computed against a
          base that moved, so rebasing could drop the concurrent rows
          or shift DV positions: raise
          :class:`ConcurrentModificationError` naming the intervening
          commits ("recompute and retry");
        - a partial rewrite (``removed_files``) rebases onto the new
          head unless an intervening commit restated, carried deletion
          vectors, or removed one of its files (the bin may no longer
          be live — raise for a replan);
        - a plain append commutes with anything and rebases (Delta's
          blind-append rule).

        A rebase only renumbers the log entry; the data files are
        already written. Every published commit then runs the
        checkpoint cadence."""
        if self._pre_publish_hook is not None:
            self._pre_publish_hook()
        while True:
            # classify BEFORE the put: clean_log may have reclaimed the
            # JSON at a stale version, so a taken version is not always
            # visible as a failed put
            head = self.latest_version()
            if head < commit.version:
                if self._put_if_absent(commit, self._commit_path(commit.version)):
                    break
                continue  # lost the race: reclassify against the new head
            if commit.restate or commit.dv_files:
                # tail parse, not history(): only the intervening
                # commits matter, and the conflict report must work on
                # a retention-cleaned log too
                inter = [
                    (c.version, c.operation)
                    for c in self._commits_between(commit.version - 1, None)
                ]
                raise ConcurrentModificationError(
                    f"{commit.operation} computed against version "
                    f"{commit.version - 1} but concurrent commit(s) {inter} "
                    "landed; re-read the snapshot and retry"
                )
            if commit.removed_files:
                # the window must be COMPLETE on a retention-cleaned
                # log: a reclaimed conflicting commit silently missing
                # here would let a stale rebase resurrect rewritten
                # rows, so a base below the cutoff raises the recipe
                self._check_log_window(commit.version - 1)
                bin_files = set(commit.removed_files)
                conflicts = [
                    (c.version, c.operation)
                    for c in self._commits_between(commit.version - 1, head)
                    if c.restate or c.dv_files or bin_files & set(c.removed_files or [])
                ]
                if conflicts:
                    raise ConcurrentModificationError(
                        f"partial rewrite of {sorted(bin_files)} raced with "
                        f"{conflicts}; the bin may no longer be live — replan"
                    )
            commit.version = head + 1
        self._maybe_checkpoint(commit.version)
        return commit

    def _create(self, commit: "Commit") -> "Commit":
        """Publish ``commit`` as the table's v0 (convert, shallow
        clone): put-if-absent at version 0 or raise. It never rebases
        (it was planned against an empty table) and never overwrites:
        a writer that landed v0 first keeps its commit."""
        commit.version = 0
        if not self._put_if_absent(commit, self._commit_path(0)):
            raise RuntimeError(
                f"{commit.operation}: table is not empty (raced a writer)"
            )
        return commit

    def _describe(
        self,
        files: list[str],
        operation: str,
        stats_cols: list[str] | None = None,
        stats: dict | None = None,
        **fields,
    ) -> "Commit":
        """The commit describing freshly written data ``files``
        (relative to the table root, or absolute): the exact row count
        and, for ``stats_cols``, per-file min/max zone maps, both from
        the parquet footers — no data re-read. Zone-map keys stay
        LOGICAL (what ``scan_pruned`` callers filter on) while footers
        hold physical names. ``stats`` merges caller-built per-file
        entries (bloom descriptors, hidden partition values); a
        ``dv_files`` field gets its row count from the footers too.
        ``fields`` are the remaining :class:`Commit` fields; the
        version is set by the publisher."""
        zone: dict = {}
        if stats_cols:
            phys = self._physical_of_logical()
            pcols = [phys.get(c, c) for c in stats_cols]
            for f in files:
                raw = _file_stats(self.path / f, pcols)
                zone[f] = {c: raw[p] for c, p in zip(stats_cols, pcols) if p in raw}
        for f, extra in (stats or {}).items():
            zone.setdefault(f, {}).update(extra)
        if fields.get("dv_files"):
            fields["dv_row_count"] = _footer_row_count(self.path, fields["dv_files"])
        return Commit(
            version=-1,
            files=files,
            row_count=_footer_row_count(self.path, files),
            operation=operation,
            stats=zone or None,
            **fields,
        )

    def _commit_files(
        self, files: list[str], operation: str, base: int | None = None, **describe
    ) -> "Commit":
        """The shared tail of every write: describe the written
        ``files`` (:meth:`_describe`) and publish them at ``base + 1``
        through :meth:`_publish`, whose conflict rule comes from the
        commit itself. ``base`` is the version the write was computed
        from (a restate's snapshot, a rewrite's bin listing); a plain
        append defaults to the current head."""
        commit = self._describe(files, operation, **describe)
        commit.version = (self.latest_version() if base is None else base) + 1
        return self._publish(commit)

    def _written(self, commit_dir: Path) -> list[str]:
        """Table-relative paths of the data files a Spark write left
        under ``commit_dir`` (recursive: partitioned writes nest)."""
        return sorted(
            str(p.relative_to(self.path)) for p in commit_dir.rglob("part-*.parquet")
        )

    @staticmethod
    def _ddl_of(pdf: DataFrame, skip=()) -> dict[str, str]:
        """{column: spark_ddl} of a frame about to be written — the
        schema a commit records (``skip``: hive partition columns,
        which live in directory names, not in the files). Spark's
        rendering keeps struct field names' case: the recorded schema
        is what reads pass to Spark."""
        return {
            f.name: f.dataType.simpleString()
            for f in pdf.schema.fields
            if f.name not in skip
        }

    @staticmethod
    def _commit_of(d: dict) -> Commit:
        d.setdefault("ts", None)  # logs written before timestamps
        if "restate" not in d:  # logs written before the restate flag
            d["restate"] = d["operation"] == "compact"
            d["data_change"] = d["operation"] != "compact"
        return Commit(**d)

    def history(self, allow_truncated: bool = False) -> list[Commit]:
        """EVERY commit ever (the audit/time-travel surface) — full
        log parse by design; snapshot PLANNING goes through
        :meth:`_live_commits`, which reads checkpoint + tail.

        After ``clean_log`` the walk would be a TRUNCATED chain, so it
        raises the retention recipe by default — every consumer that
        assumes completeness (full exports, audit folds) fails loudly
        instead of fabricating a smaller table. Retention-aware
        callers (``_live_commits``'s restate-guarded replay, fsck's
        range-restricted cross-check) pass ``allow_truncated=True``
        and apply their own completeness rule."""
        if not allow_truncated:
            self.require_full_history("this full-history walk")
        return [
            self._commit_of(json.loads(p.read_text()))
            for p in sorted(self.log_dir.glob("*.json"))
        ]

    def _commits_between(self, after: int, upto: int | None) -> list[Commit]:
        """Commits with ``after < version <= upto`` — parses only the
        tail JSONs (the file LISTING is still O(commits), like Delta's
        _delta_log LIST; the expensive part, parsing, is O(tail)).
        scandir, not glob: at 10⁵ commits Path construction dominates
        the listing itself."""
        tail: list[tuple[int, str]] = []
        with os.scandir(self.log_dir) as it:
            for e in it:
                nm = e.name
                if not nm.endswith(".json"):
                    continue
                try:
                    v = int(nm[:-5])
                except ValueError:
                    continue
                if v <= after or (upto is not None and v > upto):
                    continue
                tail.append((v, e.path))
        tail.sort()
        return [
            self._commit_of(json.loads(Path(p).read_text())) for _v, p in tail
        ]

    # -- commit-log checkpoints (Delta _last_checkpoint analog) ---------------

    #: auto-checkpoint cadence, applied by _publish to every commit
    CHECKPOINT_INTERVAL = 10

    def _ckpt_dir(self) -> Path:
        return self.log_dir / "_ckpt"

    def _read_checkpoint(self) -> dict | None:
        ptr = self.log_dir / "_last_checkpoint"
        try:
            v = int(json.loads(ptr.read_text())["version"])
            return json.loads((self._ckpt_dir() / f"{v}.json").read_text())
        except (FileNotFoundError, ValueError, KeyError, json.JSONDecodeError):
            return None

    def checkpoint(self) -> dict | None:
        """Write a commit-log CHECKPOINT at the current head: the live
        commit set (files + stats + schema + DVs) and the streaming
        txn high-waters, serialized once — so snapshot planning reads
        checkpoint + tail commits instead of EVERY commit JSON ever,
        and the streaming writer's replay dedup is O(1) instead of a
        full history scan per micro-batch. Incremental: builds from
        the previous checkpoint + tail, O(tail) not O(commits).
        Atomic via tmp + ``os.replace``; the ``_last_checkpoint``
        pointer is only ever advanced after the checkpoint file is
        durable (a crash between the two leaves the older, still-valid
        pointer). Checkpoints are additive metadata — the log itself
        is never compacted away, so ``history()``/time travel/exports
        are unaffected. Mirrors Delta's ``_last_checkpoint`` +
        10-commit cadence (auto on every published commit)."""
        v = self.latest_version()
        if v < 0:
            return None
        prev = self._read_checkpoint()
        txn = dict((prev or {}).get("txn") or {})
        after = prev["version"] if prev else -1
        if self.legacy_txn_compat:
            # migration fold runs over the FULL history: a label-blind
            # checkpoint may have already landed ABOVE legacy markers
            # (any post-upgrade append auto-checkpoints), and a fold
            # that starts at it would silently lose them — the exact
            # duplicate-replay the flag exists to prevent. One full
            # parse, once, during the migration session.
            txn, after = {}, -1
        for c in self._commits_between(after, v):
            t = txn_marker(c, self.legacy_txn_compat)
            if t:
                txn[t[0]] = max(txn.get(t[0], -1), t[1])
        # bloom descriptors ride in SIDE-CAR files, not the checkpoint
        # body: a bitset per (file, column) would dominate the
        # checkpoint at 10⁶ files, and every snapshot PLAN would pay
        # to parse bytes only point-lookups ever read. The main
        # checkpoint keeps zone maps inline (planning uses them);
        # bloom probes hydrate the side-cars lazily (_ckpt_blooms).
        # SHARDED PER COMMIT (round 8): one immutable
        # ``b<version>.blooms.json`` per bloom-bearing commit,
        # referenced by a manifest in the checkpoint body — a
        # checkpoint WRITES only commits whose shard doesn't exist
        # yet (the new tail), so side-car write cost follows NEW
        # files, never table size (the r7 monolithic blob was a
        # multi-GB rewrite every 10 commits at 10⁶ files).
        prev_ck = prev or {}
        prev_manifest = (
            dict(prev_ck["blooms"])
            if isinstance(prev_ck.get("blooms"), dict)
            else {}
        )
        # legacy monolithic side-car (pre-shard checkpoints): load it
        # once to migrate stripped commits' blooms into shards
        legacy_blob = (
            self._ckpt_blooms(prev_ck)
            if isinstance(prev_ck.get("blooms"), str)
            else {}
        )
        manifest: dict[str, str] = {}
        shards_to_write: dict[str, dict] = {}
        live_dicts: list[dict] = []
        self._ckpt_dir().mkdir(parents=True, exist_ok=True)
        for c in self._live_commits(v):
            d = dict(c.__dict__)
            cv = str(d["version"])
            shard: dict[str, dict] = {}
            if d.get("stats"):
                lean: dict[str, dict] = {}
                for f, st in d["stats"].items():
                    bl = {
                        k: val
                        for k, val in st.items()
                        if k.startswith("__bloom__:")
                    }
                    if bl:
                        shard.setdefault(f, {}).update(bl)
                        st = {
                            k: val
                            for k, val in st.items()
                            if not k.startswith("__bloom__:")
                        }
                    lean[f] = st
                d["stats"] = lean
            if legacy_blob:
                # one-time migration: a commit stripped by a PRE-SHARD
                # checkpoint finds its blooms in the monolithic blob
                for f in d.get("files") or []:
                    for k, val in (legacy_blob.get(f) or {}).items():
                        shard.setdefault(f, {}).setdefault(k, val)
            live_dicts.append(d)
            if cv in prev_manifest:
                # already sharded by a previous checkpoint: reference
                # the immutable file, zero bytes rewritten
                manifest[cv] = prev_manifest[cv]
                continue
            if shard:
                name = f"b{d['version']:020d}.blooms.json"
                manifest[cv] = name
                if not (self._ckpt_dir() / name).exists():
                    shards_to_write[name] = shard
        state = {
            "version": v,
            "live_commits": live_dicts,
            "txn": txn,
        }
        if manifest:
            state["blooms"] = manifest
        for name, shard in shards_to_write.items():
            tmpb = self._ckpt_dir() / f".tmpb-{uuid.uuid4().hex}"
            tmpb.write_text(json.dumps(shard))
            # shards land BEFORE the checkpoint that names them (a
            # crash between the two leaves the older pointer valid)
            os.replace(tmpb, self._ckpt_dir() / name)
        tmp = self._ckpt_dir() / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(state))
        os.replace(tmp, self._ckpt_dir() / f"{v}.json")
        # the pointer carries the (tiny) txn map too, so the streaming
        # writer's per-batch dedup reads ONE small file + tail — never
        # the full live-set checkpoint
        tmp2 = self.log_dir / f".ptr-{uuid.uuid4().hex}"
        tmp2.write_text(json.dumps({"version": v, "txn": txn}))
        os.replace(tmp2, self.log_dir / "_last_checkpoint")
        # retention: only the pointer's checkpoint is ever read (time
        # travel below it takes the full-history path), so superseded
        # checkpoint bodies + bloom side-cars are garbage — keep the
        # newest TWO body versions (one spare for a reader racing the
        # pointer advance; a vanished file degrades to full parse) and
        # every bloom shard those two bodies reference (shards are
        # immutable and shared across checkpoints — a shard becomes
        # garbage only when no retained body references it, i.e. its
        # commit left the live set).
        try:
            vs = sorted(
                {
                    int(p.name.split(".")[0])
                    for p in self._ckpt_dir().iterdir()
                    if p.name.split(".")[0].isdigit()
                },
                reverse=True,
            )
            for old_v in vs[2:]:
                for suffix in (".json", ".blooms.json"):
                    (self._ckpt_dir() / f"{old_v}{suffix}").unlink(
                        missing_ok=True
                    )
            referenced: set[str] = set()
            for keep_v in vs[:2]:
                try:
                    body = json.loads(
                        (self._ckpt_dir() / f"{keep_v}.json").read_text()
                    )
                except (OSError, json.JSONDecodeError):
                    continue
                bl = body.get("blooms")
                if isinstance(bl, dict):
                    referenced.update(bl.values())
                elif isinstance(bl, str):
                    referenced.add(bl)
            for p in self._ckpt_dir().iterdir():
                if (
                    p.name.startswith("b")
                    and p.name.endswith(".blooms.json")
                    and p.name not in referenced
                ):
                    p.unlink(missing_ok=True)
        except OSError:
            pass  # retention is an optimization, never a gate
        return state

    def _ckpt_blooms(self, ck: dict | None) -> dict:
        """File → {``__bloom__:col``: descriptor} from checkpoint
        ``ck``'s side-car shards — loaded lazily (and cached per
        checkpoint version) by bloom membership probes only; snapshot
        planning never parses bitsets. Tail commits (after the
        checkpoint) keep their blooms inline, so callers overlay
        commit stats on top of this map. Handles both formats: the
        round-8 per-commit shard manifest (dict) and the legacy
        monolithic blob (str)."""
        if not ck or not ck.get("blooms"):
            return {}
        v = ck["version"]
        cached = getattr(self, "_bloom_sidecar_cache", None)
        if cached is not None and cached[0] == v:
            return cached[1]
        bl = ck["blooms"]
        d: dict = {}
        try:
            if isinstance(bl, dict):
                for name in bl.values():
                    try:
                        d.update(
                            json.loads(
                                (self._ckpt_dir() / name).read_text()
                            )
                        )
                    except (OSError, json.JSONDecodeError):
                        pass  # vanished shard: probes keep those files
            else:
                d = json.loads((self._ckpt_dir() / bl).read_text())
        except (OSError, json.JSONDecodeError):
            d = {}
        self._bloom_sidecar_cache = (v, d)
        return d

    def _maybe_checkpoint(self, version: int) -> None:
        if version > 0 and version % self.CHECKPOINT_INTERVAL == 0:
            try:
                self.checkpoint()
            except OSError:  # checkpointing is an optimization, never a gate
                pass
            # auto log retention (Delta's delta.logRetentionDuration
            # analog, set via set_log_retention): piggybacks on the
            # checkpoint cadence, so a long-lived streaming sink keeps
            # its _log population bounded with zero operator action —
            # the newly-written checkpoint covers everything the clean
            # reclaims. Same never-a-gate rule as the checkpoint.
            try:
                keep = self._read_meta().get("log_retention_versions")
                if keep:
                    self.clean_log(keep_versions=int(keep))
            except (OSError, ValueError, KeyError, json.JSONDecodeError):
                # never-a-gate: a corrupt _meta.json (JSONDecodeError)
                # or a mangled keep value (ValueError) must not fail
                # the append/stream-sink commit path — same tolerance
                # clean_log applies to its own pointer reads
                pass

    def _stream_batch_high(self, prefix: str) -> int:
        """Highest committed micro-batch id for ``prefix`` (the Delta
        txn-action high-water): pointer txn map + tail commits —
        O(tail) per micro-batch instead of the full history scan."""
        ptr = None
        try:
            ptr = json.loads((self.log_dir / "_last_checkpoint").read_text())
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        if ptr is not None and "txn" not in ptr:  # pre-txn pointer vintage
            ptr = self._read_checkpoint()
        high = int(((ptr or {}).get("txn") or {}).get(prefix, -1))
        after = int(ptr["version"]) if ptr else -1
        if self.legacy_txn_compat:
            # the pointer's txn map may predate the flag (label-blind
            # fold above buried legacy markers) — scan the full log
            # during the migration session; checkpoint() under the
            # flag persists the recovered map and retires this cost.
            # On a retention-cleaned log that full scan would be
            # silently TRUNCATED: a legacy marker in a reclaimed JSON
            # is lost, so writer replay-dedup could re-apply an
            # already-committed micro-batch (duplicate rows). Fail the
            # migration session loudly instead (r10 ADVICE).
            self.require_full_history("legacy txn-marker migration scan")
            high, after = -1, -1
        for c in self._commits_between(after, None):
            t = txn_marker(c, self.legacy_txn_compat)
            if t and t[0] == prefix:
                high = max(high, t[1])
        return high

    def latest_version(self) -> int:
        """The offload-watermark analog (§2a op 29): everything at or
        below this version is durable and readable."""
        # scandir, not glob: this runs once per commit/offset poll, and
        # at 10⁵ commits Path construction dominates the listing
        hi = -1
        try:
            with os.scandir(self.log_dir) as it:
                for e in it:
                    nm = e.name
                    if nm.endswith(".json"):
                        try:
                            hi = max(hi, int(nm[:-5]))
                        except ValueError:
                            pass
        except FileNotFoundError:
            return -1
        return hi

    # -- writes --------------------------------------------------------------

    def append(
        self,
        df: DataFrame,
        operation: str = "append",
        stats_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
        txn: tuple[str, int] | None = None,
    ) -> Commit:
        """Write df as parquet files under a unique commit dir, then
        atomically publish the commit (op 33's trigger analog: data
        is invisible until the log entry lands).

        ``stats_cols`` records per-file min/max zone maps in the log
        (footer metadata only — no data re-read), enabling
        ``scan_pruned`` file skipping like Delta/Iceberg data
        skipping."""
        df = self._apply_generated_columns(df)
        df = self._apply_identity(df)
        self._validate_constraints(df)
        pdf = self._apply_reverse_renames(df)  # physical names (+ re-add minting)
        commit_schema = self._ddl_of(pdf)
        for c, tgt in self._check_append_types(commit_schema).items():
            pdf = pdf.withColumn(c, F_col(c).cast(tgt))
            commit_schema[c] = tgt
        commit_dir = self.path / "data" / f"{uuid.uuid4().hex[:12]}"
        pdf.write.mode("errorifexists").parquet(str(commit_dir))
        files = self._written(commit_dir)
        return self._commit_files(
            files,
            operation,
            stats_cols=stats_cols,
            stats=self._blooms_for(commit_dir, files, bloom_cols or []),
            schema=commit_schema,
            txn=[txn[0], int(txn[1])] if txn else None,
        )

    def convert_from_parquet(
        self, source_dir: str, stats_cols: list[str] | None = None
    ) -> Commit:
        """CONVERT TO DELTA analog: adopt an existing directory of
        parquet files as this (empty) table's first commit WITHOUT
        copying or rewriting any data. The commit references the
        files by absolute path (same mechanism as shallow CLONE);
        footers supply the exact row count and, for ``stats_cols``,
        the per-file min/max zone maps — so ``scan_pruned`` skips
        files on a just-converted table exactly like on a native one.

        At 100 TB this is the only sane migration: the conversion
        cost is one footer read per file (metadata-only, parallel-
        izable, no data pass), after which every lakehouse feature —
        appends, MERGE, DV deletes, time travel, OPTIMIZE, exports —
        operates on top. Like Delta's CONVERT, the source files are
        now table data: deleting the source directory corrupts the
        table (``vacuum`` itself never touches files outside the
        table dir). Requires SELF-DESCRIBING files (all columns in
        the data, the Iceberg-style layout); hive-partitioned layouts
        whose partition values live only in directory names need the
        rewrite path (their files are not complete rows).
        """
        if self.latest_version() >= 0:
            raise ValueError("convert_from_parquet: table is not empty")
        src = Path(source_dir)
        files = sorted(str(p.resolve()) for p in src.rglob("*.parquet"))
        if not files:
            raise ValueError(f"no parquet files under {source_dir}")
        if any("=" in p.relative_to(src).as_posix() for p in src.rglob("*.parquet")):
            raise ValueError(
                "convert_from_parquet: hive-partitioned layout — partition "
                "values live in dir names, not in the files; import via a "
                "partition-reconstructing rewrite instead"
            )
        return self._create(self._describe(files, "convert", stats_cols=stats_cols))

    def _commit_restate(
        self,
        df: DataFrame,
        operation: str,
        data_change: bool,
        stats_cols: list[str] | None = None,
        partition_by: list[str] | None = None,
        read_version: int | None = None,
    ) -> Commit:
        """Write ``df`` as a full-table rewrite and publish it as a
        restate commit (readers use it as their new base). Zone-map
        stats are recorded like ``append`` so ``scan_pruned`` keeps
        skipping files after merges/deletes/compactions.
        ``partition_by`` hive-partitions the rewrite (the partition
        column is synthetic and disappears from the read schema since
        snapshots read explicit file lists).

        ``read_version`` is the version the rewrite was COMPUTED from
        (captured by the caller before reading the snapshot); if any
        commit lands on top of it before publish, the publish raises
        :class:`ConcurrentModificationError` instead of silently
        dropping the concurrent rows — a full-state rewrite can never
        rebase (Delta's delete/merge-vs-anything conflict rule)."""
        self._validate_constraints(df)
        commit_dir = self.path / "data" / f"{operation}-{uuid.uuid4().hex[:12]}"
        phys = self._physical_of_logical()
        pdf = self._apply_reverse_renames(df)
        # restates define the new base schema — recording it keeps the
        # post-restate append guard on the O(log JSON) path (no footer
        # fallback until the next legacy commit). partitionBy columns
        # live in directory names, not in the files — exclude them.
        part_phys = [phys.get(c, c) for c in (partition_by or [])]
        w = pdf.write
        if part_phys:
            w = w.partitionBy(*part_phys)
        w.parquet(str(commit_dir))
        return self._commit_files(
            self._written(commit_dir),
            operation,
            base=read_version,
            stats_cols=stats_cols,
            restate=True,
            data_change=data_change,
            schema=self._ddl_of(pdf, part_phys),
        )

    def merge(
        self,
        updates: DataFrame,
        key_cols: list[str],
        stats_cols: list[str] | None = None,
        when_matched: str = "update",
        insert_new: bool = True,
        sync_delete_unmatched: bool = False,
        schema_evolution: bool = False,
    ) -> Commit:
        """Keyed MERGE (Delta MERGE analog) with the full clause
        matrix, committed as one atomic restate:

        - ``when_matched='update'``: source rows replace same-key
          target rows (WHEN MATCHED THEN UPDATE) — the default upsert.
        - ``when_matched='delete'``: matched target rows are removed
          (WHEN MATCHED THEN DELETE) and source rows are NOT inserted
          for those keys unless they count as new (they don't).
        - ``when_matched='ignore'``: matched target rows win
          (insert-only dedup merge — WHEN NOT MATCHED THEN INSERT
          only).
        - ``insert_new=False``: suppress WHEN NOT MATCHED INSERT.
        - ``sync_delete_unmatched=True``: drop target rows whose key
          is absent from the source (WHEN NOT MATCHED BY SOURCE THEN
          DELETE) — the "make target mirror source" sync.
        - ``schema_evolution=True``: Delta's MERGE autoMerge
          semantics. Source columns absent from the target are ADDED
          to the table schema (existing rows read NULL); target
          columns absent from the source KEEP their current values on
          matched rows (``UPDATE SET *`` only touches columns the
          source carries) and are NULL on inserted rows. Without the
          flag a column mismatch raises, like Delta without
          ``schema.autoMerge.enabled``.

        Scale: one key-shuffled join pass over the snapshot plus the
        source; a real Delta MERGE also file-prunes via stats, but
        the contract (atomic keyed merge with snapshot isolation and
        time travel across it) is identical.
        """
        if when_matched not in ("update", "delete", "ignore"):
            raise ValueError(f"when_matched: {when_matched!r}")
        snap = self.pin()
        current = self._read(snap)
        ident_missing = [c for c in self.identity_columns() if c not in updates.columns]
        if ident_missing:
            # Delta identity semantics under MERGE: matched rows KEEP
            # the target's generated ids (identity columns cannot be
            # updated), unmatched source rows get FRESH ids from the
            # high-water mark. Pull target ids by key, then allocate
            # for the rows that found none.
            from pyspark.sql import functions as F

            u = updates.join(
                current.select(*key_cols, *ident_missing), on=key_cols, how="left"
            )
            matched_part = u.where(F.col(ident_missing[0]).isNotNull())
            inserts = u.where(F.col(ident_missing[0]).isNull()).drop(*ident_missing)
            updates = matched_part.unionByName(self._apply_identity(inserts))
        if schema_evolution:
            missing = set(key_cols) - set(updates.columns)
            if missing:
                raise ValueError(f"merge: source lacks key columns {sorted(missing)}")
            tgt_only = [c for c in current.columns if c not in updates.columns]
            if tgt_only and when_matched == "update":
                # UPDATE SET * evolution: matched rows keep their
                # target-only column values — pulled over by a keyed
                # join (unmatched source rows get NULL, which is the
                # INSERT semantics). One extra key-shuffled join of
                # the SOURCE (small) against a projection of the
                # snapshot, not a second full-snapshot pass.
                updates = updates.join(
                    current.select(*key_cols, *tgt_only), on=key_cols, how="left"
                )
        if when_matched == "update":
            # Delta MERGE raises when a target row matches multiple
            # source rows (DeltaUnsupportedOperationException:
            # "multiple source rows matched") — without this check the
            # union path would silently insert duplicate keyed rows.
            # Duplicate keys that match nothing insert all their rows,
            # same as Delta's WHEN NOT MATCHED INSERT.
            dup_matched = (
                updates.groupBy(*key_cols)
                .count()
                .where(F_col("count") > 1)
                .join(
                    current.select(*key_cols).distinct(),
                    on=key_cols,
                    how="left_semi",
                )
                .limit(1)
                .count()
            )
            if dup_matched:
                raise ValueError(
                    "merge: multiple source rows match the same target key; "
                    "deduplicate the source (Delta MERGE raises here too)"
                )
        keys = updates.select(*key_cols).distinct()
        if sync_delete_unmatched:
            base_kept = current.join(keys, on=key_cols, how="left_semi")
        else:
            base_kept = current
        if when_matched in ("update", "delete"):
            kept = base_kept.join(keys, on=key_cols, how="left_anti")
        else:  # ignore: matched target rows stay
            kept = base_kept
        parts = [kept]
        if when_matched == "update":
            parts.append(updates)
        elif when_matched == "ignore":
            new_rows = updates.join(
                current.select(*key_cols), on=key_cols, how="left_anti"
            )
            if insert_new:
                parts.append(new_rows)
        if when_matched == "delete" and insert_new:
            parts.append(
                updates.join(current.select(*key_cols), on=key_cols, how="left_anti")
            )
        if when_matched == "update" and not insert_new:
            parts = [
                kept,
                updates.join(current.select(*key_cols), on=key_cols, how="left_semi"),
            ]
        merged = parts[0]
        for q in parts[1:]:
            merged = merged.unionByName(q, allowMissingColumns=schema_evolution)
        return self._commit_restate(
            merged, "merge", data_change=True, stats_cols=stats_cols,
            read_version=snap.version,
        )

    def delete_where(self, condition: str, stats_cols: list[str] | None = None) -> Commit:
        """Keyed/predicate delete (Delta DELETE analog): rewrite the
        snapshot without matching rows, commit as a restate point."""
        snap = self.pin()
        remaining = self._read(snap).where(f"NOT ({condition})")
        return self._commit_restate(
            remaining, "delete", data_change=True, stats_cols=stats_cols,
            read_version=snap.version,
        )

    def delete_where_dv(self, condition: str) -> Commit:
        """Row-level DELETE via deletion vectors (Delta DV analog):
        record the (file, row position) pairs matching ``condition``
        instead of rewriting files.

        Cost is O(matched rows) written as a small DV parquet —
        against a 100 TB table this deletes in seconds where the
        rewrite path (`delete_where`) re-writes every touched file.
        Readers anti-join the DV on (_metadata.file_path,
        _metadata.row_index) — a bounded equi-join the optimizer can
        broadcast while DVs are small. Restates (merge/delete/compact/
        zorder) physically drop DV'd rows and clear the vectors; DV
        positions reference absolute file paths, so the table
        directory must not move (same caveat as Delta's absolute-path
        pins).
        """
        snap = self.pin()
        # logical names for the predicate (renamed tables), raw
        # _metadata for the positions — _apply_renames only touches
        # data columns, so file_path/row_index stay addressable
        matched = self._dv_base(snap).where(condition).select(
            F_col("_metadata.file_path").alias("_dv_file"),
            F_col("_metadata.row_index").alias("_dv_pos"),
        )
        return self._commit_dv(matched, snap)

    def delete_keys_dv(self, keys: DataFrame, key_col: str) -> Commit:
        """Row-level DELETE by KEY SET via deletion vectors: semi-join
        the live files against a DISTRIBUTED key DataFrame instead of
        compiling collected keys into an ``IN (...)`` predicate
        string. The CDC apply path (CLI ``pipe`` verb) deletes through
        this — interpolating keys via ``repr()`` was both a driver
        bottleneck (O(delete keys) SQL text) and a correctness hazard
        (a string key containing a quote produced a malformed
        predicate; r9 ADVICE). Cost matches :meth:`delete_where_dv`:
        one semi-join (broadcast while the key set is small) +
        O(matched rows) written as a DV parquet; keys matching nothing
        are a no-op, keys are deduplicated before the join."""
        snap = self.pin()
        # materialize the _metadata pseudo-columns BEFORE the join:
        # they resolve only against the scan relation itself, not
        # through a join (Spark drops unreferenced metadata columns)
        base = self._dv_base(snap).withColumns(
            {
                "_dv_file": F_col("_metadata.file_path"),
                "_dv_pos": F_col("_metadata.row_index"),
            }
        )
        matched = base.join(
            keys.select(key_col).distinct(), on=key_col, how="left_semi"
        ).select("_dv_file", "_dv_pos")
        return self._commit_dv(matched, snap)

    def _dv_base(self, snap: Snapshot) -> DataFrame:
        """Every live row of ``snap`` in logical names, DVs NOT
        applied, ``_metadata`` still addressable — what a DV delete
        matches its predicate against."""
        if not snap.files:
            raise ValueError("cannot delete from an empty table")
        return self._apply_renames(
            self._read_data([f for _c, f in snap.files], snap.schema), snap.meta
        )

    def _commit_dv(self, matched: DataFrame, snap: Snapshot) -> Commit:
        """Shared tail of the DV delete paths: drop positions already
        deleted by ``snap``'s DVs, write the new DV parquet, publish."""
        if snap.dv_files:
            matched = matched.join(
                self._read_dvs(snap.dv_files), ["_dv_file", "_dv_pos"], "left_anti"
            )
        commit_dir = self.path / "data" / f"deletedv-{uuid.uuid4().hex[:12]}"
        matched.write.parquet(str(commit_dir))
        # DV positions were computed against snap's file set; a
        # concurrent commit may shift them -> _publish raises
        return self._commit_files(
            [], "delete_dv", base=snap.version, dv_files=self._written(commit_dir)
        )

    def _read_dvs(self, dv_files) -> DataFrame:
        return self.spark.read.schema(_DV_DDL).parquet(
            *[str(self.path / f) for f in dv_files]
        )

    def _apply_dvs(self, df: DataFrame, dv_files) -> DataFrame:
        """Filter out DV'd rows: anti-join on (file path, row index)."""
        if not dv_files:
            return df
        dv = self._read_dvs(dv_files)
        return (
            df.withColumn("_dv_file", F_col("_metadata.file_path"))
            .withColumn("_dv_pos", F_col("_metadata.row_index"))
            .join(dv, ["_dv_file", "_dv_pos"], "left_anti")
            .drop("_dv_file", "_dv_pos")
        )

    def compact(
        self, target_partitions: int = 1, stats_cols: list[str] | None = None
    ) -> Commit:
        """OPTIMIZE analog: rewrite the current snapshot into fewer,
        larger files and commit the replacement (small-files problem
        is the #1 lakehouse perf killer at scale). ``data_change`` is
        False — no logical rows change, so incremental readers skip it
        (Delta OPTIMIZE's dataChange=false)."""
        snap = self.pin()
        return self._commit_restate(
            self._read(snap).repartition(target_partitions), "compact",
            data_change=False, stats_cols=stats_cols, read_version=snap.version,
        )

    def compact_files(
        self, files_subset: list[str], operation: str = "compact-bin"
    ) -> Commit:
        """PARTIAL compaction (the shape real OPTIMIZE uses at scale):
        rewrite only ``files_subset`` — e.g. one bin from
        ``lakehouse_compaction_planner`` — into a single replacement
        file, committing it with Delta RemoveFile semantics
        (``removed_files``) instead of restating the snapshot. A 100 TB
        table OPTIMIZEs its small-file bins without touching the other
        99.9%; full ``compact()`` rewrites everything and is only
        right for small tables.

        ``data_change=False``: incremental/CDF readers skip it (no
        logical rows change); time travel below this version still
        sees the original files; vacuum reclaims them once the
        horizon passes. Files covered by deletion vectors refuse to
        compact here (position-keyed DVs don't survive a rewrite —
        delete_where's restate path handles those). Zone maps and
        bloom filters are rebuilt for every column the bin's files
        had them for.
        """
        snap = self.pin()  # the base the bin is planned on
        owner = {f: c for c, f in snap.files}
        missing = [f for f in files_subset if f not in owner]
        if missing:
            raise ValueError(f"compact_files: not live: {missing}")
        if snap.dv_files:
            raise ValueError(
                "compact_files: table has deletion vectors; position-keyed "
                "DVs do not survive file rewrites — use delete_where/compact"
            )
        pairs = [(owner[f], f) for f in files_subset]
        keys = {k for c, f in pairs for k in snap.file_stats(c, f, blooms=True)}
        combined = self._read_data(files_subset, self._fold(snap.meta, pairs))
        commit_dir = self.path / "data" / f"{uuid.uuid4().hex[:12]}"
        combined.repartition(1).write.mode("errorifexists").parquet(str(commit_dir))
        files = self._written(commit_dir)
        phys = self._physical_of_logical()
        bloom_cols = [
            k.split(":", 1)[1] for k in sorted(keys) if k.startswith("__bloom__:")
        ]
        return self._commit_files(
            files,
            operation,
            base=snap.version,
            stats_cols=sorted(k for k in keys if not k.startswith("__bloom__:")),
            stats=self._blooms_for(
                commit_dir,
                files,
                [c for c in bloom_cols if phys.get(c, c) in combined.columns],
            ),
            schema=self._ddl_of(combined),
            data_change=False,
            removed_files=sorted(files_subset),
        )

    def restore(self, version: int | None = None, timestamp: float | None = None) -> Commit:
        """RESTORE TABLE to an earlier version (Delta ``RESTORE``
        analog): publish a new restate commit whose file list is
        exactly the target version's live file set.

        Metadata-only — no data is rewritten, so the operation is
        O(commit log), not O(table), at any scale. The restored state
        is itself versioned: time travel still sees the pre-restore
        lineage, and a restore can be restored over. Zone-map stats
        are carried over from the source commits so ``scan_pruned``
        keeps skipping files. ``data_change=True`` (readers' view
        changes), so incremental cursors crossing it restart from a
        snapshot — same contract as merge/delete.

        Accepts ``version`` or an epoch-seconds ``timestamp``
        (RESTORE ... TIMESTAMP AS OF).
        """
        if version is None and timestamp is None:
            raise ValueError("restore requires a version or timestamp")
        snap = self.pin(version, timestamp=timestamp)
        if not snap.commits:
            raise ValueError(f"no data at version {version}")
        stats = {f: st for c, f in snap.files if (st := snap.file_stats(c, f, blooms=True))}
        return self._publish(
            Commit(
                version=self.latest_version() + 1,
                files=[f for _c, f in snap.files],
                row_count=snap.rows + snap.dv_rows,
                operation="restore",
                stats=stats or None,
                restate=True,
                data_change=True,
                dv_files=list(snap.dv_files) or None,
                dv_row_count=snap.dv_rows,
                schema=snap.schema or None,
            )
        )

    def scd2_apply(
        self,
        updates: DataFrame,
        key_cols: list[str],
        attr_cols: list[str],
        effective_col: str,
    ) -> Commit:
        """Maintain THIS table as a type-2 slowly-changing dimension:
        fold a batch of keyed attribute observations into the stored
        history (``scd2_history`` semantics — no-change observations
        collapse, changes version with [valid_from, valid_to)).

        The rebuild re-derives the history from stored versions (each
        existing version re-expressed as an observation at its
        valid_from) plus the new batch, then publishes ONE restate
        commit — so history stays time-travelable version by version,
        and late-arriving observations slot into their correct
        interval instead of corrupting the chain. Cost is O(dimension
        history), the small side of a lakehouse by construction."""
        from pyspark.sql import functions as F

        cols = key_cols + attr_cols
        snap = self.pin()
        if snap.version >= 0:
            existing = self._read(snap).select(
                *cols, F.col("valid_from").alias(effective_col)
            )
            obs = existing.unionByName(updates.select(*cols, effective_col))
        else:
            obs = updates.select(*cols, effective_col)
        hist = scd2_history(obs, key_cols, attr_cols, effective_col)
        return self._commit_restate(
            hist, operation="scd2", data_change=True, read_version=snap.version
        )

    def clone(
        self,
        target_path: str,
        version: int | None = None,
        shallow: bool = True,
    ) -> "LakehouseTable":
        """CLONE the table (Delta ``CREATE TABLE ... CLONE`` analog).

        ``shallow=True``: the clone's initial commit references the
        SOURCE's live data files (and deletion vectors) by absolute
        path — zero data copied, O(metadata) at any table size. The
        clone is immediately writable: its own commits land under its
        own directory and never touch the source, and the source keeps
        evolving independently (the commit, not the directory, defines
        the table). Caveats mirror Delta's: vacuuming the SOURCE can
        strand a shallow clone's referenced files (our ``vacuum`` only
        deletes under its own data/, so cloning is safe against the
        clone's own vacuum), and the source directory must not move.

        ``shallow=False`` (deep): materialize ``snapshot(version)``
        into the clone — one full rewrite, fully self-contained.

        Table metadata carries over either way — CHECK constraints,
        generated columns, column-mapping renames (shallow clones
        reference physical-named source files, so the mapping MUST
        follow them or the clone surfaces physical names), and the
        partition-spec history (re-based so the current spec applies
        to the clone's future writes). ``version`` clones a historical
        snapshot (time travel + clone in one step).
        """
        snap = self.pin(version)
        target = LakehouseTable(self.spark, target_path)
        if target.latest_version() >= 0:
            raise ValueError(f"clone target {target_path} is not empty")
        if shallow:
            # the snapshot's removed-files-aware live set: partial
            # rewrites (compact_files, incremental clustering)
            # supersede files of EARLIER commits — cloning raw commit
            # file lists would reference superseded files that the
            # source's vacuum rightfully deletes later (interplay
            # caught by tests/test_lifecycle.py::test_wave_ae_lifecycle)
            if not snap.files:
                raise ValueError(f"no data at version {version}")
            files: list[str] = []
            stats: dict = {}
            for c, f in snap.files:
                ab = str((self.path / f).resolve())
                files.append(ab)
                # side-car blooms folded back: the clone has no access
                # to the SOURCE's checkpoint, and losing them would
                # silently cost it its point-lookup skipping
                merged = snap.file_stats(c, f, blooms=True)
                if merged:
                    stats[ab] = merged
            dv_files = [str((self.path / f).resolve()) for f in snap.dv_files]
            # put-if-absent, never a bare write: a writer that landed
            # v0 after the emptiness check keeps its commit (clone
            # raises), and a crash cannot leave torn JSON at v0
            target._create(
                target._describe(
                    files,
                    "clone_shallow",
                    stats=stats,
                    dv_files=dv_files or None,
                    schema=snap.schema or None,
                )
            )
        else:
            # deep clone materializes the snapshot, which already
            # surfaces LOGICAL names — its files need no mapping
            target.append(self._read(snap), operation="clone_deep")
        src_meta = snap.meta
        meta = target._read_meta()
        # identity carries WITH its allocated high-water mark — a
        # clone that restarted allocation at 0 would mint colliding
        # ids on its first append
        for key in ("constraints", "generated_columns", "identity"):
            if src_meta.get(key):
                meta[key] = src_meta[key]
        if shallow:
            # the referenced source files carry the PHYSICAL layout —
            # the whole column-mapping state must follow them: rename
            # chain, dropped physicals (stale data must stay invisible
            # in the clone too), and widening targets (mixed int/bigint
            # vintages need the explicit-schema read path)
            for key in (
                "column_renames",
                "rename_versions",
                "dropped_columns",
                "widenings",
                "widening_versions",
            ):
                if src_meta.get(key):
                    meta[key] = src_meta[key]
        if src_meta.get("partition_specs"):
            # spec history re-based: the clone's log starts at v0, so
            # every spec applies from its beginning; the CURRENT spec
            # (last entry) governs future writes, like Delta CLONE
            meta["partition_specs"] = [
                {**sp, "from_version": 0} for sp in src_meta["partition_specs"]
            ]
        if meta:
            target._write_meta(meta)
        return target

    def zorder(
        self,
        cols: list[str],
        target_partitions: int = 8,
        stats_cols: list[str] | None = None,
    ) -> Commit:
        """OPTIMIZE ZORDER BY analog: rewrite the snapshot clustered on
        the interleaved-bit (Morton) key of ``cols`` so that zone-map
        pruning works on EVERY listed dimension, not just a lead sort
        column. ``data_change=False`` — pure reclustering, incremental
        readers skip it.

        Each column is min/max-normalized to 16 bits and the bits are
        interleaved into one integer key; files are cut at EXACT
        z-percentile boundaries (equal-count buckets) and written
        hive-partitioned by bucket, so every output file is a
        contiguous Z-curve segment — axis-aligned-compact in all
        dimensions, the property multi-dim file skipping needs. The
        cutpoints are computed from the data, not sampled, so the
        file layout (and the pruning tests that pin it) is
        deterministic run to run — unlike ``repartitionByRange``,
        whose sampled boundaries shift per run.

        Scale: one global-bounds agg, one exact-percentile agg
        (swap for approx_percentile at 100 TB — same contract, the
        sketch is deterministic for fixed data), one hash shuffle on
        the bucket id. The z-key math is 32 shift/or terms in codegen.
        (Rank-based normalization would resist heavy value skew better
        than min/max; the percentile cut already balances file SIZES
        under skew.)
        """
        from pyspark.sql import functions as F

        pinned = self.pin()
        snap = self._read(pinned)
        b = snap.agg(
            *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
        ).first()
        k = len(cols)
        z = F.lit(0).cast("bigint")
        for j, c in enumerate(cols):
            lo, hi = b[f"lo_{c}"], b[f"hi_{c}"]
            span = (hi - lo) or 1.0
            nrm = F.least(
                F.lit(65535),
                F.greatest(
                    F.lit(0),
                    F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * 65535),
                ),
            ).cast("bigint")
            for i in range(16):
                z = z + F.shiftleft(
                    F.shiftright(nrm, i).bitwiseAND(F.lit(1)), i * k + j
                )
        with_z = snap.withColumn("_z", z)
        fracs = [i / target_partitions for i in range(1, target_partitions)]
        cuts = with_z.agg(
            F.expr(f"percentile(_z, array({','.join(str(f) for f in fracs)}))")
        ).first()[0]
        bucket = F.lit(0)
        for cut in cuts:
            bucket = bucket + F.when(F.col("_z") > F.lit(int(cut)), 1).otherwise(0)
        clustered = (
            with_z.withColumn("_zb", bucket)
            .repartition(target_partitions, "_zb")
            .sortWithinPartitions("_zb", "_z")
            .drop("_z")
        )
        return self._commit_restate(
            clustered,
            "zorder",
            data_change=False,
            stats_cols=stats_cols or cols,
            partition_by=["_zb"],
            read_version=pinned.version,
        )

    def hilbert_cluster(
        self,
        cols: list[str],
        target_partitions: int = 8,
        stats_cols: list[str] | None = None,
    ) -> Commit:
        """OPTIMIZE ... CLUSTER BY analog on the HILBERT curve — the
        layout Delta liquid clustering and Iceberg's hilbert-sort
        rewrite use.  Same contract as :meth:`zorder` (equal-count
        file cuts on the curve key, zone-map stats, ``data_change=
        False``) but the key has no Morton seam-jumps: consecutive
        curve positions are always ADJACENT grid cells, so a file
        holding a contiguous key range covers a tighter axis-aligned
        box and min/max pruning skips more files near power-of-two
        boundaries.

        The min/max normalization to the 16-bit grid stays in JVM
        codegen; only the bit permutation (Skilling transform) runs
        as an Arrow-batched numpy kernel — once, in the rewrite job,
        never on the query path.  Scale shape is identical to zorder:
        one bounds agg, one exact-percentile agg (≙ approx_percentile
        at 100 TB), one hash shuffle on the bucket id.
        """
        from pyspark.sql import functions as F

        pinned = self.pin()
        snap = self._read(pinned)
        b = snap.agg(
            *[F.min(c).cast("double").alias(f"lo_{c}") for c in cols],
            *[F.max(c).cast("double").alias(f"hi_{c}") for c in cols],
        ).first()
        bounds = {c: [float(b[f"lo_{c}"]), float(b[f"hi_{c}"])] for c in cols}
        clustered = self._hilbert_bucketed(
            snap, cols, bounds, target_partitions
        )
        commit = self._commit_restate(
            clustered,
            "hilbert_cluster",
            data_change=False,
            stats_cols=stats_cols or cols,
            partition_by=["_hb"],
            read_version=pinned.version,
        )
        # persist the clustering spec (cols + GRID BOUNDS) so
        # incremental reclustering keys new data on the SAME grid —
        # Delta stores the clustering columns in table metadata the
        # same way
        meta = self._read_meta()
        meta["clustering"] = {
            "cols": list(cols),
            "bounds": bounds,
            "target_partitions": target_partitions,
            "version": commit.version,
        }
        self._write_meta(meta)
        return commit

    def _hilbert_bucketed(
        self,
        df: DataFrame,
        cols: list[str],
        bounds: dict[str, list[float]],
        target_partitions: int,
    ) -> DataFrame:
        """Attach the Hilbert key for ``cols`` on the grid defined by
        ``bounds`` (values outside clamp to the grid edge), bucket at
        exact curve-key percentiles of ``df``, and sort each bucket —
        the shared kernel of full and incremental clustering."""
        from pyspark.sql import functions as F

        from lakehouse_test_spark.operators.spacecurve import hilbert_key_udf

        coord_cols = []
        for c in cols:
            lo, hi = bounds[c]
            span = (hi - lo) or 1.0
            coord_cols.append(
                F.least(
                    F.lit(65535),
                    F.greatest(
                        F.lit(0),
                        F.floor(
                            (F.col(c).cast("double") - F.lit(lo))
                            / F.lit(span)
                            * 65535
                        ),
                    ),
                ).cast("bigint")
            )
        key = hilbert_key_udf(len(cols), bits=16)
        with_h = df.withColumn("_h", key(*coord_cols))
        fracs = [i / target_partitions for i in range(1, target_partitions)]
        cuts = with_h.agg(
            F.expr(f"percentile(_h, array({','.join(str(f) for f in fracs)}))")
        ).first()[0]
        bucket = F.lit(0)
        for cut in cuts:
            bucket = bucket + F.when(F.col("_h") > F.lit(int(cut)), 1).otherwise(0)
        return (
            with_h.withColumn("_hb", bucket)
            .repartition(target_partitions, "_hb")
            .sortWithinPartitions("_hb", "_h")
            .drop("_h")
        )

    def hilbert_cluster_incremental(
        self, stats_cols: list[str] | None = None
    ) -> Commit | None:
        """Incremental OPTIMIZE ... CLUSTER BY (the liquid-clustering
        maintenance loop): recluster ONLY the files appended since the
        last clustering commit, on the SAME grid bounds, and publish
        with RemoveFile semantics — previously clustered files are
        untouched.

        This is the only clustering shape that survives 100 TB: a
        full recluster rewrites the entire table on every ingest
        cycle, while this rewrites O(new data) and keeps every old
        file's curve-contiguity (and zone maps) intact. New files may
        overlap old files' key ranges — same as liquid clustering,
        where per-batch clustering is local and a later full rewrite
        is optional. Returns None when nothing new exists. Refuses
        under live deletion vectors (position-keyed DVs don't survive
        rewrites — same rule as ``compact_files``)."""
        meta = self._read_meta()
        spec = meta.get("clustering")
        if not spec:
            raise ValueError("hilbert_cluster_incremental: run hilbert_cluster first")
        snap = self.pin()  # the base the rewrite is planned on
        if snap.dv_files:
            raise ValueError(
                "hilbert_cluster_incremental: table has deletion vectors; "
                "use delete_where/compact first"
            )
        pairs = [(c, f) for c, f in snap.files if c.version > spec["version"]]
        if not pairs:
            return None
        new_files = [f for _c, f in pairs]
        cols = spec["cols"]
        raw = self._read_data(new_files, self._fold(snap.meta, pairs))
        df = self._apply_renames(raw, snap.meta)
        clustered = self._hilbert_bucketed(
            df, cols, spec["bounds"], spec["target_partitions"]
        )
        commit_dir = self.path / "data" / f"{uuid.uuid4().hex[:12]}"
        # hive-partition by the bucket id like the full rewrite: one
        # curve-contiguous file per bucket regardless of hash
        # collisions in repartition; the synthetic _hb column lives
        # only in dir names (snapshots read explicit file lists)
        pclustered = self._apply_reverse_renames(clustered)
        pclustered.write.mode("errorifexists").partitionBy("_hb").parquet(
            str(commit_dir)
        )
        out = self._commit_files(
            self._written(commit_dir),
            "hilbert_cluster_incr",
            base=snap.version,
            stats_cols=stats_cols or cols,
            schema=self._ddl_of(pclustered, ["_hb"]),
            data_change=False,
            removed_files=sorted(new_files),
        )
        meta = self._read_meta()
        if meta.get("clustering"):
            meta["clustering"]["version"] = out.version
            self._write_meta(meta)
        return out

    # -- reads ---------------------------------------------------------------

    def _live_commits(self, version: int | None = None, ck=...) -> list[Commit]:
        """Commits whose files are live as of ``version``: the latest
        restate (merge/delete/compact full rewrite) is the base, plus
        every append after it. Pre-restate appends are superseded.

        Planning cost: with a checkpoint at C ≤ version this parses
        the checkpoint + commits (C, version] only — a long-lived
        table with 10⁵ commits plans from the last checkpoint's state,
        not 10⁵ JSON reads. Time travel BELOW the checkpoint takes the
        full-history path (rare, audit-grade). ``ck``: the checkpoint
        already read by the caller (default: read it here)."""
        if ck is ...:
            ck = self._read_checkpoint()
        if ck is not None and (version is None or version >= ck["version"]):
            commits = [self._commit_of(dict(d)) for d in ck["live_commits"]]
            commits += self._commits_between(ck["version"], version)
        else:
            commits = self.history(allow_truncated=True)
            if version is not None:
                commits = [c for c in commits if c.version <= version]
            # log-retention guard: this full-history replay is only
            # complete if a surviving RESTATE covers the base (its
            # predecessors are superseded); otherwise the chain must
            # start at v0, whose JSON clean_log may have reclaimed —
            # silently replaying the truncated tail would fabricate a
            # smaller table (same hazard class as the delta-export
            # reader's _replay_state guard)
            if not any(c.restate for c in commits):
                earliest = self._log_earliest()
                if earliest > 0:
                    raise LogRetentionError(
                        f"time travel to v{version} needs commit JSONs "
                        f"below the log-retention cutoff v{earliest} "
                        "(clean_log reclaimed them); only versions "
                        "replayable from the retained checkpoint + "
                        "tail, or covered by a surviving restate, "
                        "remain readable"
                    )
        restates = [c for c in commits if c.restate]
        if restates:
            base = restates[-1]
            commits = [base] + [
                c for c in commits if c.version > base.version and not c.restate
            ]
        return commits

    def _live_files(self, version: int | None = None) -> list[tuple["Commit", str]]:
        return self._pairs(self._live_commits(version))

    @staticmethod
    def _pairs(commits: list[Commit]) -> list[tuple["Commit", str]]:
        """(commit, file) pairs live in a commit chain: its files
        minus those any commit in it REMOVED (partial rewrites —
        Delta RemoveFile semantics)."""
        removed = {f for c in commits for f in c.removed_files or []}
        return [(c, f) for c in commits for f in c.files if f not in removed]

    def pin(
        self,
        version: int | None = None,
        *,
        timestamp: float | None = None,
        tag: str | None = None,
        branch: str | None = None,
    ) -> Snapshot:
        """Resolve a read ONCE into an immutable :class:`Snapshot`:
        as of ``version`` (None = the current head), an epoch-seconds
        ``timestamp`` (TIMESTAMP AS OF), a named ``tag`` (VERSION AS
        OF 'ref') or a ``branch`` (main's live set at the fork point
        plus the branch's own commits). Pass at most one. The ref
        lookup, the vacuum-horizon check, the log replay, the schema
        fold and the ``_meta.json`` read each happen here exactly
        once; every read of the result sees that one version."""
        if sum(x is not None for x in (version, timestamp, tag, branch)) > 1:
            raise ValueError("pass at most one of version, timestamp, tag, branch")
        meta = self._read_meta()
        if tag is not None:
            known = meta.get("tags", {})
            if tag not in known:
                raise ValueError(f"unknown tag {tag!r}; have {sorted(known)}")
            version = known[tag]
        elif timestamp is not None:
            version = self.version_at_timestamp(timestamp)
        own: list[Commit] = []
        if branch is not None:
            brs = meta.get("branches", {})
            if branch not in brs:
                raise ValueError(f"unknown branch {branch!r}")
            version = brs[branch]["fork_version"]
            own = self._branch_commits(branch)
        self._check_horizon(version, meta)
        if version is None:
            version = self.latest_version()
        ck = self._read_checkpoint()
        commits = self._live_commits(version, ck) + own
        pairs = self._pairs(commits)
        return Snapshot(
            version=own[-1].version if own else version,
            commits=tuple(commits),
            files=tuple(pairs),
            dv_files=tuple(f for c in commits for f in c.dv_files or []),
            schema=self._fold(meta, pairs, commits),
            meta=meta,
            blooms=lambda: self._ckpt_blooms(ck),
        )

    def _read(
        self, snap: Snapshot, keep: Callable[[Commit, str], bool] | None = None
    ) -> DataFrame:
        """THE snapshot reader: the files of ``snap`` that ``keep``
        keeps (default: all), read with the snapshot's recorded
        schema (Spark infers nothing), its deletion vectors applied
        and its renames mapped to logical names. Zero kept files give
        an empty frame in the same schema."""
        files = [f for c, f in snap.files if keep is None or keep(c, f)]
        if files:
            df = self._apply_dvs(self._read_data(files, snap.schema), snap.dv_files)
        elif snap.schema:
            # a truncating overwrite leaves zero live files but a
            # commit-recorded schema — the table is EMPTY, not absent
            df = self.spark.createDataFrame([], _ddl(snap.schema))
        else:
            raise ValueError(f"no data at version {snap.version}")
        return self._apply_renames(df, snap.meta)

    def _pruned(
        self, snap: Snapshot, keep: Callable[[Commit, str], bool]
    ) -> tuple[DataFrame, int, int]:
        """Shared skeleton of the file-skipping scans: read the files
        ``keep`` keeps; returns (df, files_scanned, files_total)."""
        kept = {f for c, f in snap.files if keep(c, f)}
        return self._read(snap, lambda _c, f: f in kept), len(kept), len(snap.files)

    @staticmethod
    def _overlaps(st, lo, hi) -> bool:
        """Zone-map test: may a file with stats ``st`` ([min, max])
        hold a value in [lo, hi]? Missing stats or a None bound (e.g.
        a NULL partition value) keep the file — skipping must be
        safe."""
        return st is None or st[0] is None or st[1] is None or not (hi < st[0] or lo > st[1])

    def version_at_timestamp(self, ts: float) -> int:
        """Newest version committed at or before epoch-seconds ``ts``
        (Delta ``TIMESTAMP AS OF`` resolution). Raises ValueError when
        ``ts`` predates the first commit."""
        cands = [
            c.version
            for c in self.history(allow_truncated=True)
            if c.ts is not None and c.ts <= ts
        ]
        if not cands:
            if self._log_earliest() > 0:
                raise LogRetentionError(
                    f"no surviving commit at or before timestamp {ts}: "
                    f"clean_log reclaimed JSONs below "
                    f"v{self._log_earliest()} — time travel by "
                    "timestamp only reaches retained commits"
                )
            raise ValueError(
                f"no commit at or before timestamp {ts} (table born later)"
            )
        return max(cands)

    def tag(self, name: str, version: int | None = None) -> int:
        """Iceberg-style named TAG: an immutable ref to a version
        (None = current head). Tags are metadata; retagging an
        existing name raises (immutability is the point — use a new
        name). Returns the tagged version."""
        v = self.latest_version() if version is None else version
        if v < 0 or v > self.latest_version():
            raise ValueError(f"tag {name!r}: no version {v}")
        meta = self._read_meta()
        tags = meta.setdefault("tags", {})
        if name in tags:
            raise ValueError(f"tag {name!r} already exists at v{tags[name]}")
        tags[name] = v
        self._write_meta(meta)
        return v

    def tags(self) -> dict[str, int]:
        return dict(self._read_meta().get("tags", {}))

    # -- branches (append-only write isolation, Iceberg/Nessie-style) ---------

    def _branch_dir(self, name: str) -> Path:
        return self.log_dir / f"branch-{name}"

    def branches(self) -> dict[str, dict]:
        return dict(self._read_meta().get("branches", {}))

    def create_branch(self, name: str) -> int:
        """Fork a named APPEND-ONLY branch at the current head:
        staged writes land on the branch (own commit chain, versions
        fork+1…) and are invisible to main readers until
        ``merge_branch`` fast-forwards them in. The write-audit-
        publish workflow (Nessie/Iceberg branches, Delta's staging
        tables) as metadata: forking copies nothing."""
        head = self.latest_version()
        if head < 0:
            raise ValueError("create_branch: empty table")
        meta = self._read_meta()
        brs = meta.setdefault("branches", {})
        if name in brs:
            raise ValueError(f"branch {name!r} already exists")
        brs[name] = {"fork_version": head}
        self._write_meta(meta)
        self._branch_dir(name).mkdir(parents=True, exist_ok=True)
        return head

    def _branch_commits(self, name: str) -> list[Commit]:
        return [
            self._commit_of(json.loads(p.read_text()))
            for p in sorted(self._branch_dir(name).glob("*.json"))
        ]

    def branch_head(self, name: str) -> int:
        brs = self.branches()
        if name not in brs:
            raise ValueError(f"unknown branch {name!r}")
        commits = self._branch_commits(name)
        return commits[-1].version if commits else brs[name]["fork_version"]

    def branch_append(self, name: str, df: DataFrame, operation: str = "append") -> Commit:
        """Append to a branch: same constraint/generated-column
        contract and atomic tmp-rename publish as main appends, but
        the commit lands in the branch's own chain. Branches are
        append-only (restates would need per-branch DV/merge
        semantics; stage those on main)."""
        if name not in self.branches():
            raise ValueError(f"unknown branch {name!r}")
        df = self._apply_generated_columns(df)
        # identity draws from the SHARED high-water mark: branch and
        # main appends allocate disjoint id ranges, so a later
        # merge_branch can never collide ids
        df = self._apply_identity(df)
        self._validate_constraints(df)
        commit_dir = self.path / "data" / f"{uuid.uuid4().hex[:12]}"
        pdf = self._apply_reverse_renames(df)
        commit_schema = self._ddl_of(pdf)
        for c, tgt in self._check_append_types(commit_schema).items():
            pdf = pdf.withColumn(c, F_col(c).cast(tgt))
            commit_schema[c] = tgt
        pdf.write.mode("errorifexists").parquet(str(commit_dir))
        commit = self._describe(
            self._written(commit_dir), operation, schema=commit_schema
        )
        commit.version = self.branch_head(name) + 1
        target = self._branch_dir(name) / f"{commit.version:020d}.json"
        if not self._put_if_absent(commit, target):
            raise RuntimeError(f"concurrent branch commit at version {commit.version}")
        return commit

    def snapshot_branch(self, name: str) -> DataFrame:
        """Read a branch: main's live files as of the fork point plus
        every branch commit — main writes after the fork are NOT
        visible (snapshot isolation per ref)."""
        return self._read(self.pin(branch=name))

    def drop_branch(self, name: str) -> int:
        """Abandon a branch: delete its ref, commit chain, and the
        data files only its commits reference (they are unreachable
        from main by construction — branch appends write fresh dirs).
        Returns the number of data files deleted."""
        if name not in self.branches():
            raise ValueError(f"unknown branch {name!r}")
        deleted = 0
        for c in self._branch_commits(name):
            for f in c.files:
                p = self.path / f
                if p.exists():
                    p.unlink()
                    deleted += 1
                parent = p.parent
                if parent.exists() and not any(parent.iterdir()):
                    parent.rmdir()
        shutil.rmtree(self._branch_dir(name), ignore_errors=True)
        meta = self._read_meta()
        meta["branches"].pop(name, None)
        self._write_meta(meta)
        return deleted

    def merge_branch(self, name: str) -> int:
        """Publish the branch's commits onto main, then drop the ref.
        Append-only branch commits commute with any main history (an
        append adds rows regardless of what else landed), so each one
        publishes through :meth:`_publish` as a plain append at the
        current head + 1: a pure FAST-FORWARD (versions kept) when
        main still sits at the fork point, a REBASE onto the new head
        when main advanced."""
        brs = self.branches()
        if name not in brs:
            raise ValueError(f"unknown branch {name!r}")
        fork = brs[name]["fork_version"]
        # the retry-dedup below walks main's commits since the fork; a
        # retention-cleaned window there could silently miss an
        # already-merged copy and replay it (duplicate rows)
        self._check_log_window(fork)
        # retry-safety: a crash between publishing a commit onto main
        # and unlinking the branch copy leaves it in BOTH logs; a naive
        # replay would duplicate its rows. A branch commit whose file
        # list already sits at a main version after the fork was
        # merged by the crashed attempt: drop its copy.
        merged = {tuple(c.files) for c in self._commits_between(fork, None)}
        for p in sorted(self._branch_dir(name).glob("*.json")):
            c = self._commit_of(json.loads(p.read_text()))
            if tuple(c.files) not in merged:
                c.version = self.latest_version() + 1
                self._publish(c)
            # unlinked only once its main commit is durable: a crash
            # mid-merge never loses a commit, it at worst leaves the
            # branch ref for a retry
            p.unlink()
        shutil.rmtree(self._branch_dir(name), ignore_errors=True)
        meta = self._read_meta()
        meta["branches"].pop(name, None)
        self._write_meta(meta)
        return self.latest_version()

    def snapshot(
        self,
        version: int | None = None,
        timestamp: float | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read the table as of ``version`` (time travel; None=latest),
        as of an epoch-seconds ``timestamp`` (TIMESTAMP AS OF), or as
        of a named ``tag`` (VERSION AS OF 'ref') — :meth:`pin`, then
        read. Committed == readable — §2a ops 31-32 dissolve here.

        Commits may evolve the schema (add columns); older files
        surface NULLs for columns they predate — additive schema
        evolution like Delta/Iceberg."""
        return self._read(self.pin(version, timestamp=timestamp, tag=tag))

    def scan_pruned(self, col: str, lo, hi) -> tuple[DataFrame, int, int]:
        """Range scan with zone-map file skipping: only files whose
        recorded [min,max] for ``col`` overlaps [lo,hi] are handed to
        Spark (files without stats are kept — skipping must be safe).
        Returns (df, files_scanned, files_total).

        Scale: at 100 TB with time- or key-sorted ingest this is the
        difference between scanning one commit and the whole table;
        the residual predicate still applies row-level (on the
        logical column, so renamed tables' older vintages match).
        """
        snap = self.pin()
        keys = self._stat_keys(col, snap.meta)  # logical name + rename-chain vintages

        def keep(c, f):
            fstats = snap.file_stats(c, f)
            return self._overlaps(next((fstats[k] for k in keys if k in fstats), None), lo, hi)

        df, n, total = self._pruned(snap, keep)
        return df.where((F_col(col) >= lo) & (F_col(col) <= hi)), n, total

    def scan_pruned_box(
        self, preds: dict[str, tuple]
    ) -> tuple[DataFrame, int, int]:
        """Multi-dimensional zone-map scan: keep a file only if its
        [min,max] overlaps EVERY column's [lo,hi] in ``preds``.  This
        is the read path multi-dim clustering (:meth:`zorder`,
        :meth:`hilbert_cluster`) exists to serve — a lead-column sort
        can only skip on one axis; a space-filling-curve layout makes
        every listed axis's zone maps tight simultaneously.  Files
        with missing stats on any axis are kept (skipping is safe).
        Returns (df, files_scanned, files_total)."""
        snap = self.pin()
        keys = {c: self._stat_keys(c, snap.meta) for c in preds}

        def keep(c, f):
            fstats = snap.file_stats(c, f)
            return all(
                self._overlaps(next((fstats[k] for k in keys[col] if k in fstats), None), lo, hi)
                for col, (lo, hi) in preds.items()
            )

        df, n, total = self._pruned(snap, keep)
        for col, (lo, hi) in preds.items():
            df = df.where((F_col(col) >= lo) & (F_col(col) <= hi))
        return df, n, total

    def read_changes(
        self, since_version: int, upto_version: int | None = None
    ) -> DataFrame:
        """Incremental scan: rows committed after ``since_version`` —
        the consume-loop analog (§2a ops 5, 31): a reader that
        remembers its last version gets exactly-once batches.
        ``upto_version`` bounds the window (Delta CDF's
        ``endingVersion``): only commits ≤ it are replayed.

        Restate semantics (the Delta CDF / Iceberg incremental-read
        contract): pure compactions carry ``data_change=False`` and are
        skipped — their files re-state rows the reader already saw. A
        *logical* restate (merge/delete) past the cursor cannot be
        expressed as appends, so it raises
        :class:`RestateAcrossCursorError` and the reader restarts from
        a fresh snapshot."""
        if since_version < 0:
            return self.snapshot(version=upto_version)
        self._check_log_window(since_version)
        # O(tail) cursor: parse only commits past the cursor (the same
        # cost class the checkpointed writer uses) — an incremental
        # poll on a long-lived table must never re-read the whole log
        newer = self._commits_between(since_version, upto_version)
        logical_restates = [
            c for c in newer if (c.restate and c.data_change) or c.dv_files
        ]
        if logical_restates:
            ops = [(c.version, c.operation) for c in logical_restates]
            raise RestateAcrossCursorError(
                f"cursor v{since_version} predates logical restate(s) {ops}; "
                "restart from a fresh snapshot"
            )
        pairs = [
            (c, f) for c in newer if not c.restate and c.data_change for f in c.files
        ]
        missing = [f for _c, f in pairs if not (self.path / f).exists()]
        if missing:
            raise VacuumHorizonError(
                f"cursor v{since_version} needs {len(missing)} vacuumed file(s); "
                "restart from a fresh snapshot"
            )
        if not pairs:
            return self._read(self.pin(), lambda _c, _f: False)
        # the window's own recorded schemas; logical names, like
        # snapshot/scan_pruned: incremental readers must see the same
        # names the batch readers see
        meta = self._read_meta()
        return self._apply_renames(
            self._read_data([f for _c, f in pairs], self._fold(meta, pairs)), meta
        )

    def read_changes_cdf(
        self, since_version: int, upto_version: int | None = None
    ) -> DataFrame:
        """Change data feed (Delta CDF analog): every row-level change
        after ``since_version`` as (data columns, _change_type,
        _commit_version, _commit_timestamp) — appends emit ``insert``
        rows, deletion-vector commits emit ``delete`` rows (the
        deleted rows themselves, recovered by semi-joining the DV
        positions against the files they reference). Replaying the
        feed onto the old snapshot reproduces the new one exactly
        (tested). ``_commit_timestamp`` is the owning commit's
        RECORDED wall-clock time (Delta readChangeFeed's third meta
        column — time-windowed CDC consumers join on it without
        resolving versions out-of-band), null only for legacy commits
        logged before timestamps existed.

        Full restates (merge/delete/restore) still raise
        :class:`RestateAcrossCursorError` — a rewrite is not
        expressible as row changes without diffing; pure compactions
        are skipped as always.

        Scale: inserts stream straight from the new files; each DV
        commit costs one semi-join of its positions against the files
        it touches — O(changes), never O(table).
        """
        from pyspark.sql import functions as F

        if since_version < 0:
            # Initial load: label each row with the commit that
            # actually inserted it (Delta CDF reports the true commit
            # version per row, not a synthetic "latest"), and filter
            # DV-deleted rows so the load equals the live snapshot.
            # ONE scan of the live set + a broadcast (file → version)
            # map — never a union branch per commit (an append-only
            # table with 10⁴ live commits would otherwise build a
            # 10⁴-branch plan; the version is physical provenance, a
            # per-FILE fact, exactly what a broadcast map encodes).
            # Rows living in a compacted file surface under the
            # compacting commit (the logical insert version is not
            # recoverable post-compaction, as in Delta).
            snap = self.pin(upto_version)
            if not snap.files:
                raise ValueError(f"no data at version {snap.version}")
            # Join on the file's SUFFIX identity (last two path
            # components: commit dir + file name — both writer-
            # generated, uuid-bearing, unique within a table, and
            # drawn from a charset URL-encoding never touches), not
            # on full derived paths: _metadata.file_path is a
            # URL-ENCODED fully-qualified URI (a space is %20) that
            # can differ from an os.path.abspath key in scheme,
            # percent-encoding, AND symlink resolution — a full-path
            # compare silently returned an EMPTY initial load on a
            # table path containing a space (r8 ADVICE; the streaming
            # source's _match_key applies the same rule). Absolute
            # paths still feed _read_data (relative-path tables scan
            # correctly); only the join key is suffix-normalized.
            scan_paths = [
                os.path.abspath(str(self.path / f)) for _c, f in snap.files
            ]
            ver_rows = [
                (
                    "/".join(p.rstrip("/").split("/")[-2:]),
                    c.version,
                    ts_micros(c.ts),
                )
                for (c, _f), p in zip(snap.files, scan_paths)
            ]
            scan = self._read_data(scan_paths, snap.schema).withColumn(
                "_cdf_path",
                F.array_join(
                    F.slice(
                        F.split(F_col("_metadata.file_path"), "/"), -2, 2
                    ),
                    "/",
                ),
            )
            vmap = self.spark.createDataFrame(
                ver_rows,
                "_cdf_path STRING, _commit_version INT, _commit_ts_us LONG",
            )
            data_cols = [
                c for c in scan.columns if c != "_cdf_path"
            ]
            out0 = (
                # DVs as of the BOUND, not the head: a DV committed
                # after upto_version must not filter this load, and a
                # restate after it must not drop a DV that WAS live at
                # the bound (the contract is load == time-traveled
                # snapshot: the same pinned DV set).
                self._apply_dvs(scan, snap.dv_files)
                .join(F.broadcast(vmap), "_cdf_path")
                .withColumn("_change_type", F.lit("insert"))
                .withColumn(
                    "_commit_timestamp",
                    F.timestamp_micros(F_col("_commit_ts_us")),
                )
                .select(
                    *data_cols,
                    "_change_type",
                    "_commit_version",
                    "_commit_timestamp",
                )
            )
            return self._apply_renames(out0, snap.meta)
        self._check_log_window(since_version)
        # O(tail) cursor: parse only commits past the cursor (the same
        # cost class the checkpointed writer uses) — an incremental
        # poll on a long-lived table must never re-read the whole log
        newer = self._commits_between(since_version, upto_version)
        hard_restates = [c for c in newer if c.restate and c.data_change]
        if hard_restates:
            ops = [(c.version, c.operation) for c in hard_restates]
            raise RestateAcrossCursorError(
                f"cursor v{since_version} predates full restate(s) {ops}; "
                "restart from a fresh snapshot"
            )
        parts: list[DataFrame] = []
        meta = self._read_meta()

        def _ts_col(c: Commit):
            us = ts_micros(c.ts)
            if us is None:  # legacy pre-timestamp commit
                return F.lit(None).cast("timestamp")
            return F.timestamp_micros(F.lit(us))

        for c in newer:
            if c.restate or not c.data_change:
                continue  # compaction (full or partial): no logical change
            if c.dv_files:
                dv = self._read_dvs(c.dv_files)
                # scan ONLY the files this DV references — a DV
                # deleting rows in 2 files of a 10⁵-file snapshot must
                # not re-scan the snapshot. The distinct referenced-
                # file list is O(files touched), planning-sized.
                from urllib.parse import urlparse

                ref = [
                    r["_dv_file"]
                    for r in dv.select("_dv_file").distinct().collect()
                ]
                base_files = [
                    urlparse(p).path if p.startswith("file:") else p
                    for p in ref
                ]
                if not base_files:
                    # a predicate that matched NOTHING still commits a
                    # (zero-row) DV file; there are no deleted rows to
                    # emit — and a read of zero files would fail
                    # (found by the r9 stream-fuzz harness:
                    # the STREAMING feed handled empty DVs, the native
                    # oracle crashed on them)
                    continue
                missing = [f for f in base_files if not Path(f).exists()]
                if missing:
                    raise VacuumHorizonError(
                        f"cursor v{since_version} needs {len(missing)} vacuumed file(s)"
                    )
                # no owning commit in hand for these: footer fold
                deleted = (
                    self._read_data(base_files, self._fold(meta, [(None, f) for f in base_files]))
                    .withColumn("_dv_file", F_col("_metadata.file_path"))
                    .withColumn("_dv_pos", F_col("_metadata.row_index"))
                    .join(dv, ["_dv_file", "_dv_pos"], "left_semi")
                    .drop("_dv_file", "_dv_pos")
                )
                parts.append(
                    deleted.withColumns(
                        {
                            "_change_type": F.lit("delete"),
                            "_commit_version": F.lit(c.version).cast("int"),
                            "_commit_timestamp": _ts_col(c),
                        }
                    )
                )
            elif c.files:
                files = [str(self.path / f) for f in c.files]
                missing = [f for f in files if not Path(f).exists()]
                if missing:
                    raise VacuumHorizonError(
                        f"cursor v{since_version} needs {len(missing)} vacuumed file(s)"
                    )
                pairs = [(c, f) for f in c.files]
                parts.append(
                    self._read_data(c.files, self._fold(meta, pairs))
                    .withColumns(
                        {
                            "_change_type": F.lit("insert"),
                            "_commit_version": F.lit(c.version).cast("int"),
                            "_commit_timestamp": _ts_col(c),
                        }
                    )
                )
        if not parts:
            return self._read(self.pin(), lambda _c, _f: False).withColumns(
                {
                    "_change_type": F.lit("insert"),
                    "_commit_version": F.lit(0).cast("int"),
                    "_commit_timestamp": F.lit(None).cast("timestamp"),
                }
            )
        out = parts[0]
        for q in parts[1:]:
            out = out.unionByName(q, allowMissingColumns=True)
        return self._apply_renames(out, meta)

    def total_rows_committed(self, version: int | None = None) -> int:
        """Counter-metric twin (§2a op 35): log-recorded live row
        total of the snapshot (:attr:`Snapshot.rows`), for
        rows_written == rows_read invariants without a scan."""
        return self.pin(version).rows

    # -- table metadata (constraints, vacuum horizon) ------------------------

    def _meta_path(self) -> Path:
        return self.path / "_meta.json"

    def _read_meta(self) -> dict:
        if self._meta_path().exists():
            return json.loads(self._meta_path().read_text())
        return {"constraints": {}, "vacuum_horizon": 0}

    def _write_meta(self, meta: dict) -> None:
        tmp = self.path / f".meta-{uuid.uuid4().hex}"
        tmp.write_text(json.dumps(meta))
        os.rename(tmp, self._meta_path())

    # -- CHECK constraints ----------------------------------------------------

    def add_constraint(self, name: str, expr: str) -> None:
        """Register a table-level CHECK constraint (Delta's
        ``ALTER TABLE ADD CONSTRAINT`` analog). The SQL expression must
        hold for every row of every future write; it is validated
        against the CURRENT snapshot first so a constraint can never
        be born already-violated."""
        if self.latest_version() >= 0:
            bad = self.snapshot().where(f"NOT ({expr})").limit(1).count()
            if bad:
                raise ConstraintViolationError(
                    f"constraint {name!r} ({expr}) already violated by existing rows"
                )
        meta = self._read_meta()
        meta.setdefault("constraints", {})[name] = expr
        self._write_meta(meta)

    def add_generated_column(self, name: str, expr: str) -> None:
        """Register a GENERATED ALWAYS AS column (Delta generated
        columns): every future append either computes ``name`` from
        ``expr`` (column absent from the written frame) or must
        supply values EQUAL to the expression (validated atomically,
        like a CHECK constraint — Delta's writer contract)."""
        meta = self._read_meta()
        meta.setdefault("generated_columns", {})[name] = expr
        self._write_meta(meta)

    def generated_columns(self) -> dict[str, str]:
        return dict(self._read_meta().get("generated_columns", {}))

    def _apply_generated_columns(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        for name, expr in self.generated_columns().items():
            if name not in df.columns:
                df = df.withColumn(name, F.expr(expr))
            else:
                bad = (
                    df.where(~F.col(name).eqNullSafe(F.expr(expr))).limit(1).count()
                )
                if bad:
                    raise ConstraintViolationError(
                        f"generated column {name!r} does not match its "
                        f"expression ({expr}) in the written data"
                    )
        return df

    # -- identity columns ------------------------------------------------------

    def set_identity(self, col: str, start: int = 1, step: int = 1) -> None:
        """Declare ``col`` GENERATED ALWAYS AS IDENTITY (Delta
        identity-column analog): appends that do NOT carry the column
        get unique ids ``start + step * k`` allocated from a
        table-level high-water mark persisted in the table metadata;
        appends that DO carry it are rejected (ALWAYS, not BY
        DEFAULT — the Delta writer contract).

        Like Delta, uniqueness and monotonic progression across
        commits are guaranteed, *density and ordering within a
        commit are not promised* (ids follow partition placement —
        :func:`operators.ordering.block_row_number`, which costs one
        P-row count aggregate and a broadcast join, never a shuffle
        of the data). Identity allocation serializes appends on the
        high-water mark exactly as Delta serializes on the
        ``highWaterMark`` txn action."""
        if step == 0:
            raise ValueError("identity step must be non-zero")
        if self.latest_version() >= 0:
            # Delta's rule: identity columns exist only from CREATE
            # TABLE — declaring one later would leave every existing
            # row reading NULL for it, silently breaking
            # the uniqueness contract
            raise ValueError(
                "identity columns must be declared before the first write "
                "(Delta allows them only at CREATE TABLE)"
            )
        meta = self._read_meta()
        ident = meta.setdefault("identity", {})
        if col in ident:
            raise ValueError(f"identity column {col!r} already declared")
        ident[col] = {"start": int(start), "step": int(step), "allocated": 0}
        self._write_meta(meta)

    def identity_columns(self) -> dict[str, dict]:
        return dict(self._read_meta().get("identity", {}))

    def _apply_identity(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        from lakehouse_test_spark.operators.ordering import block_row_number

        if not self.identity_columns():
            return df
        # the high-water bump is a read-modify-write of shared
        # metadata: two concurrent appends reading the same mark
        # would mint OVERLAPPING id ranges (the commit-version race
        # is detected later, but ids are allocated before it) — so
        # allocation itself serializes on a file mutex, the same way
        # Delta serializes identity on its txn high-water action
        with self._meta_mutex():
            meta = self._read_meta()
            ident = meta.get("identity", {})
            for name, spec in ident.items():
                if name in df.columns:
                    raise ConstraintViolationError(
                        f"identity column {name!r} is GENERATED ALWAYS — "
                        "writers must not supply it"
                    )
                df, n = block_row_number(df, "__id_k")
                base = spec["start"] + spec["step"] * spec["allocated"]
                df = df.withColumn(
                    name, (F.lit(base) + F.lit(spec["step"]) * (F.col("__id_k") - 1))
                    .cast("bigint")
                ).drop("__id_k")
                meta["identity"][name]["allocated"] = spec["allocated"] + n
            self._write_meta(meta)
        return df

    def _meta_mutex(self, timeout: float = 30.0):
        """Cross-process mutex for read-modify-write metadata updates
        (O_CREAT|O_EXCL lock file + retry). Held only for driver-side
        metadata arithmetic plus the P-row offsets job — never across
        a data write.

        Stale-lock recovery: the lock file is stamped with the holder
        pid. A lock whose holder is dead (or unreadable and older than
        the timeout) is broken instead of spinning to TimeoutError —
        a crashed writer must not wedge every future identity append.
        Breaking is serialized through a BREAKER mutex and the lock is
        re-judged under it before the unlink: without that, waiter B
        could judge a lock stale, waiter A break + re-acquire it (new
        LIVE lock at the same path), and B then delete A's fresh lock
        — double-hold, lost metadata updates (the r6-ADVICE TOCTOU).
        Only a dead lock is ever unlinked, and only by one breaker, so
        no live holder can lose its lock. A breaker that itself
        crashed mid-break (held for microseconds of syscalls) ages out
        after 5 s."""
        import contextlib
        import time as _time

        lock = self.path / ".meta.lock"

        def _holder_dead() -> bool:
            try:
                pid = int(lock.read_text().strip() or "0")
            except (OSError, ValueError):
                # torn/empty stamp: only age can judge it
                try:
                    return _time.time() - lock.stat().st_mtime > timeout
                except OSError:
                    return False  # vanished — normal release
            if pid <= 0:
                return False
            try:
                os.kill(pid, 0)  # signal 0: existence probe only
                return False
            except ProcessLookupError:
                return True
            except PermissionError:
                return False  # alive, other uid

        def _break_stale() -> None:
            breaker = self.path / ".meta.lock.breaker"
            try:
                fd = os.open(
                    str(breaker), os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                my_ino = os.fstat(fd).st_ino
                os.close(fd)
            except FileExistsError:
                # another waiter is breaking; if THAT waiter crashed
                # mid-break the breaker ages out (it is held only
                # across a handful of syscalls)
                with contextlib.suppress(OSError):
                    if _time.time() - breaker.stat().st_mtime > 5.0:
                        with contextlib.suppress(FileNotFoundError):
                            os.unlink(str(breaker))
                return  # re-spin; the winning breaker finishes the job

            def _still_mine() -> bool:
                # ownership re-check by INODE: if we stalled past the
                # 5s age-out, a waiter reclaimed the breaker and a new
                # breaker (fresh inode) may have broken + a new holder
                # re-acquired the lock — unlinking it now would be the
                # double-hold the breaker mutex exists to prevent.
                # Re-stating immediately before each unlink shrinks the
                # race window from the whole break (arbitrary stall) to
                # one adjacent syscall pair after a fresh check.
                try:
                    return os.stat(str(breaker)).st_ino == my_ino
                except OSError:
                    return False

            try:
                # serialized: re-judge the CURRENT lock before the
                # unlink. A live holder can only exist if the lock
                # path was vacant, and only breakers unlink foreign
                # locks — so a lock that is still dead here stays
                # dead until we remove it.
                if _holder_dead() and _still_mine():
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(str(lock))
            finally:
                if _still_mine():
                    with contextlib.suppress(FileNotFoundError):
                        os.unlink(str(breaker))

        @contextlib.contextmanager
        def _held():
            deadline = _time.monotonic() + timeout
            while True:
                try:
                    fd = os.open(str(lock), os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                    try:
                        os.write(fd, str(os.getpid()).encode())
                    finally:
                        os.close(fd)
                    break
                except FileExistsError:
                    if _holder_dead():
                        _break_stale()
                        continue
                    if _time.monotonic() > deadline:
                        raise TimeoutError(
                            f"metadata lock {lock} held too long"
                        ) from None
                    _time.sleep(0.01)
            try:
                yield
            finally:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(str(lock))

        return _held()

    def constraints(self) -> dict[str, str]:
        return dict(self._read_meta().get("constraints", {}))

    def _validate_constraints(self, df: DataFrame) -> None:
        """One pass over the incoming batch evaluates ALL constraints
        (conditional counts fold into a single aggregate — N rules,
        one scan); raises before any file is written, so a rejected
        batch leaves no trace (write-side DQ gate)."""
        checks = self.constraints()
        if not checks:
            return
        from pyspark.sql import functions as F

        aggs = [
            F.count_if(F.expr(f"NOT ({expr})")).alias(name)
            for name, expr in checks.items()
        ]
        row = df.agg(*aggs).collect()[0]
        violated = {name: row[name] for name in checks if row[name]}
        if violated:
            raise ConstraintViolationError(
                f"write rejected; violations per constraint: {violated}"
            )

    # -- column-mapping rename (Delta column-mapping analog) -------------------

    def rename_column(self, old: str, new: str) -> None:
        """Delta-column-mapping-style RENAME: metadata-only — no data
        file is rewritten, and the PHYSICAL name is stable: writers
        map logical→physical (``_apply_reverse_renames``) so every
        vintage shares one file layout — exactly Delta's
        ``columnMapping.mode = name`` contract, which is what makes
        the table exportable (:mod:`plans.delta_export` emits the
        mapping). Readers map physical→logical at scan time
        (``_apply_renames``; the coalesce branch still covers tables
        written before physical names were stabilized). Renames chain
        (a→b→c) in metadata order. Mapping is table-level
        current-state metadata: like Delta, time-traveled reads also
        surface the LOGICAL names."""
        meta = self._read_meta()
        # Delta's rule: a column referenced by a CHECK constraint or a
        # generated-column expression cannot be renamed (the stored
        # expression text would silently dangle and brick every future
        # write's validation)
        referents = []
        for cname, expr in (meta.get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(old)}\b", expr):
                referents.append(f"constraint {cname!r} ({expr})")
        for gname, expr in (meta.get("generated_columns") or {}).items():
            if gname == old or _re.search(rf"\b{_re.escape(old)}\b", expr):
                referents.append(f"generated column {gname!r} ({expr})")
        specs = meta.get("partition_specs") or []
        for item in (specs[-1]["cols"] if specs else []):
            if _re.search(rf"\b{_re.escape(old)}\b", item):
                referents.append(f"current partition spec item {item!r}")
        if referents:
            raise ValueError(
                f"cannot rename {old!r}: referenced by {'; '.join(referents)} "
                "(drop/redefine them first — Delta blocks this rename too)"
            )
        meta.setdefault("column_renames", []).append([old, new])
        # version stamp (parallel list — [old, new] pair shape is
        # load-bearing for every chain walker): powers per-snapshot
        # schema lineage in the Iceberg export (an OLD snapshot shows
        # the name it had THEN). Native reads stay current-names-
        # everywhere (the documented Delta-like contract).
        while len(meta.setdefault("rename_versions", [])) < len(
            meta["column_renames"]
        ) - 1:
            meta["rename_versions"].append(-1)  # pre-stamp vintages
        meta["rename_versions"].append(self.latest_version())
        # the clustering spec stores LOGICAL column names + bounds;
        # follow the rename so incremental reclustering keeps working
        cl = meta.get("clustering")
        if cl and old in cl["cols"]:
            cl["cols"] = [new if c == old else c for c in cl["cols"]]
            cl["bounds"][new] = cl["bounds"].pop(old)
        self._write_meta(meta)

    # -- DROP COLUMN + type widening (column-mapping schema evolution) --------

    #: permitted lossless widenings (Delta/Iceberg type-promotion set);
    #: decimals are handled separately (precision growth, scale kept)
    _WIDEN_OK = {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("int", "bigint"),
        ("float", "double"),
        ("tinyint", "double"),
        ("smallint", "double"),
        ("int", "double"),
        ("date", "timestamp"),
    }

    @staticmethod
    def _widens_to(src: str, dst: str) -> bool:
        if src == dst:
            return True
        if (src, dst) in LakehouseTable._WIDEN_OK:
            return True
        m1 = _re.match(r"decimal\((\d+),\s*(\d+)\)", src)
        m2 = _re.match(r"decimal\((\d+),\s*(\d+)\)", dst)
        if m1 and m2:
            p1, s1 = int(m1.group(1)), int(m1.group(2))
            p2, s2 = int(m2.group(1)), int(m2.group(2))
            # scale may grow only with matching integral headroom
            return p2 - s2 >= p1 - s1 and s2 >= s1
        if m2 and src in ("tinyint", "smallint", "int", "bigint"):
            # Delta typeWidening's integer→decimal promotions: the
            # decimal needs the integer's full integral range
            # (verified: Spark 4's parquet reader upcasts INT32 pages
            # into decimal(p-s>=10,*) and INT64 into decimal(p-s>=20,*)
            # at scan; anything narrower fails the read, so the
            # whitelist is exactly the readable set)
            p2, s2 = int(m2.group(1)), int(m2.group(2))
            return p2 - s2 >= (20 if src == "bigint" else 10)
        return False

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — logical, through column mapping:
        no data file is touched; the physical column is recorded as
        dropped and every reader projects it away from that point on
        (Delta's DROP COLUMN under ``columnMapping.mode=name``).
        A later append that carries the same logical name is a
        RE-ADD: it mints a FRESH physical name (new field identity),
        so the old vintage's values can never resurrect into the
        re-added column. Same referent guards as :meth:`rename_column`
        (constraints / generated columns / partition specs pin their
        columns)."""
        meta = self._read_meta()
        referents = []
        for cname, expr in (meta.get("constraints") or {}).items():
            if _re.search(rf"\b{_re.escape(name)}\b", expr):
                referents.append(f"constraint {cname!r} ({expr})")
        for gname, expr in (meta.get("generated_columns") or {}).items():
            if gname == name or _re.search(rf"\b{_re.escape(name)}\b", expr):
                referents.append(f"generated column {gname!r} ({expr})")
        specs = meta.get("partition_specs") or []
        for item in (specs[-1]["cols"] if specs else []):
            if _re.search(rf"\b{_re.escape(name)}\b", item):
                referents.append(f"current partition spec item {item!r}")
        if name in (meta.get("identity") or {}):
            referents.append("identity column")
        cl = meta.get("clustering")
        if cl and name in cl.get("cols", []):
            # found by the r5 torture sweep: a dropped clustered column
            # left hilbert_cluster_incremental resolving a ghost
            referents.append(f"clustering spec {cl['cols']} (recluster first)")
        if referents:
            raise ValueError(
                f"cannot drop {name!r}: referenced by {'; '.join(referents)}"
            )
        if self.latest_version() >= 0:
            cols = self.snapshot().columns
            if name not in cols:
                raise ValueError(f"drop_column: no column {name!r}; have {cols}")
        physical = self._physical_of_logical().get(name, name)
        meta.setdefault("dropped_columns", []).append(
            {
                "logical": name,
                "physical": physical,
                "version": self.latest_version(),
            }
        )
        # NOTE: the rename chain stays intact — readers never see the
        # dropped PHYSICAL (excluded from the read schema), so chain
        # entries resolving to it are inert; removing them would
        # resurrect intermediate logical names. A re-add appends a
        # fresh-physical chain entry on top (_mint_readd_physicals).
        wid = meta.get("widenings") or {}
        wid.pop(physical, None)
        self._write_meta(meta)

    def widen_column(self, name: str, target: str) -> None:
        """ALTER TABLE ALTER COLUMN TYPE — lossless widening (INT→
        BIGINT, FLOAT→DOUBLE, decimal precision growth, …) as PURE
        METADATA: no file is rewritten; reads pass an explicit
        unified schema and Spark 4's parquet readers upcast old
        vintages (INT32 pages into a BIGINT column) at scan — the
        Delta ``typeWidening`` table-feature mechanism, physical
        names unchanged. Narrowing raises."""
        target = target.strip().lower()
        if self.latest_version() >= 0:
            cols = self.snapshot().columns
            if name not in cols:
                raise ValueError(f"widen_column: no column {name!r}; have {cols}")
        phys = self._physical_of_logical().get(name, name)
        current = self.pin().schema.get(phys)
        meta = self._read_meta()
        prior = (meta.get("widenings") or {}).get(phys)
        src = prior or current
        if src is not None and not self._widens_to(src, target):
            raise ValueError(
                f"widen_column {name!r}: {src} -> {target} is not a "
                "lossless widening"
            )
        meta.setdefault("widenings", {})[phys] = target
        # version stamp for per-snapshot schema lineage (Iceberg
        # export): snapshots at or before this version export the
        # pre-widening type. Native reads widen everywhere (metadata-
        # only contract), unchanged.
        meta.setdefault("widening_versions", {})[phys] = self.latest_version()
        self._write_meta(meta)

    @staticmethod
    def _pa_ddl(pa_type) -> str:
        """Arrow footer type → Spark DDL (the subset lakehouse tables
        carry)."""
        t = str(pa_type)
        simple = {
            "int64": "bigint",
            "int32": "int",
            "int16": "smallint",
            "int8": "tinyint",
            "double": "double",
            "float": "float",
            "string": "string",
            "large_string": "string",
            "bool": "boolean",
            "binary": "binary",
            "large_binary": "binary",
            "date32[day]": "date",
        }
        if t in simple:
            return simple[t]
        if t.startswith("timestamp"):
            return "timestamp"
        if t.startswith("decimal128(") or t.startswith("decimal("):
            return "decimal" + t[t.index("(") :]
        if t.startswith("list<") or t.startswith("large_list<"):
            return f"array<{LakehouseTable._pa_ddl(pa_type.value_type)}>"
        raise ValueError(f"unsupported column type {t}")

    _DDL_RANK = {
        "tinyint": 0,
        "smallint": 1,
        "int": 2,
        "bigint": 3,
        "float": 4,
        "double": 5,
    }

    def _fold_schemas(
        self,
        sources,
        dropped: set[str],
        wid: dict[str, str],
    ) -> dict[str, str]:
        """Fold per-source PHYSICAL schemas into the table's unified
        schema ({col: ddl}). ``sources`` yields (label, {col: ddl})
        pairs — from parquet footers or from commit-recorded schemas.
        Mixed vintages are legal only when both sides widen to the
        declared target or one widens to the other; anything else
        raises NAMING the offending source (the corruption
        ``verify()``/write enforcement exist to catch). Footer types
        marked opaque (nested types) fold by exact-string equality
        and never conflict: the first vintage seen wins."""
        fields: dict[str, str] = {}
        first: dict[str, str] = {}
        for label, sch in sources:
            for name, ddl in sch.items():
                if name in dropped:
                    continue
                prev = fields.get(name)
                if prev is None:
                    fields[name] = ddl
                    first[name] = label
                elif prev.lower() != ddl.lower():  # older logs lowercased nested names
                    if prev.startswith(_OPAQUE) or ddl.startswith(_OPAQUE):
                        continue
                    target = wid.get(name)
                    if target and self._widens_to(prev, target) and self._widens_to(ddl, target):
                        fields[name] = target
                    elif self._widens_to(prev, ddl):
                        fields[name] = ddl
                    elif self._widens_to(ddl, prev):
                        pass
                    else:
                        raise ValueError(
                            f"irreconcilable vintages for {name}: {prev} "
                            f"(first seen in {first[name]}) vs {ddl} (in {label})"
                        )
        for phys, target in wid.items():
            if phys in fields and not fields[phys].startswith(_OPAQUE):
                fields[phys] = target
        return {n: t.removeprefix(_OPAQUE) for n, t in fields.items()}

    def _footer_schema_sources(self, files):
        """(file, {col: ddl}) per parquet footer — driver-side
        metadata reads only, O(len(files)), no Spark job. Nested
        types the DDL mapper cannot express come back opaque, in
        Spark's own rendering of the Arrow type."""
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_type

        for f in files:
            sch = {}
            for fld in pq.read_schema(f):
                try:
                    sch[fld.name] = self._pa_ddl(fld.type)
                except ValueError:
                    sch[fld.name] = _OPAQUE + from_arrow_type(fld.type).simpleString()
            yield str(f), sch

    def _fold(self, meta: dict, pairs, commits=None) -> dict[str, str]:
        """THE schema fold of every read: the recorded schema of each
        of ``commits`` (default: the owners of ``pairs``), plus the
        parquet footers of the ``pairs`` files whose owning commit
        records none (legacy logs, or None: no owner in hand).
        Dropped physicals are excluded and widening targets applied,
        per ``meta``."""
        if commits is None:
            commits = list({id(c): c for c, _f in pairs if c is not None}.values())
        recorded = [(f"commit v{c.version}", c.schema) for c in commits if c.schema is not None]
        legacy = [str(self.path / f) for c, f in pairs if c is None or c.schema is None]
        return self._fold_schemas(
            [*recorded, *self._footer_schema_sources(legacy)],
            {d["physical"] for d in meta.get("dropped_columns", [])},
            meta.get("widenings") or {},
        )

    def _check_append_types(self, incoming: dict[str, str]) -> dict[str, str]:
        """Write-time schema ENFORCEMENT (the Delta write-path
        contract): an appended frame may ADD columns (additive
        evolution, the documented contract); a NARROWER incoming type
        is implicitly upcast to the table's (Delta's safe-cast write —
        the returned {col: target_ddl} tells the writer what to cast,
        keeping every vintage's physical type identical); a WIDER or
        CONFLICTING type raises BEFORE any file lands, table
        unchanged. Without this, a mistyped append COMMITS and every
        subsequent ``snapshot()`` dies on irreconcilable vintages
        (found by the r5 judge). ``incoming`` is {physical_col:
        spark_ddl}.

        Reference analog: fixed declared schemas on every record type
        (lakehouse-test ``Person.java:10-17``)."""
        if self.latest_version() < 0:
            return {}
        table = self.pin().schema
        upcasts: dict[str, str] = {}
        for name, ddl in incoming.items():
            cur = table.get(name)
            if cur is None:
                continue  # additive column
            ddl = ddl.strip().lower()
            if ddl == cur:
                continue
            if ddl.startswith(("struct<", "map<")) or cur.startswith(
                ("struct<", "map<")
            ):
                continue  # deep-nested: no widening rule to apply
            # arrays reconcile element-wise; scalars directly
            a, b = ddl, cur
            if ddl.startswith("array<") and cur.startswith("array<"):
                a, b = ddl[6:-1], cur[6:-1]
                if a.startswith(("struct<", "map<", "array<")) or b.startswith(
                    ("struct<", "map<", "array<")
                ):
                    continue
            elif ddl.startswith("array<") or cur.startswith("array<"):
                raise ValueError(
                    f"schema enforcement: column {name!r} is {ddl} in the "
                    f"incoming frame but {cur} in the table. Nothing was "
                    "committed; fix the writer and retry"
                )
            if self._widens_to(a, b):
                upcasts[name] = cur  # narrower incoming: safe upcast at write
            elif self._widens_to(b, a):
                raise ValueError(
                    f"schema enforcement: column {name!r} is {ddl} in the "
                    f"incoming frame — WIDER than the table's {cur}. Nothing "
                    f"was committed; declare it first: "
                    f"widen_column({name!r}, {ddl!r})"
                )
            else:
                raise ValueError(
                    f"schema enforcement: column {name!r} is {ddl} in the "
                    f"incoming frame but {cur} in the table — not a lossless "
                    "widening in either direction. Nothing was committed; "
                    "cast the column (or rename it) and retry"
                )
        return upcasts

    def _read_data(self, files, schema: dict) -> DataFrame:
        """Every data-file read routes through here: explicit files
        (table-relative or absolute), explicit PHYSICAL schema — so
        Spark infers nothing and plans without a job. Columns a file
        lacks read NULL (additive evolution), dropped physicals are
        absent from the schema (projected away, data retained), and
        widened columns upcast at scan (Spark 4's parquet readers
        read an INT32 page into a BIGINT column)."""
        return self.spark.read.schema(_ddl(schema)).parquet(
            *[str(self.path / f) for f in files]
        )

    def _mint_readd_physicals(self, cols: list[str]) -> None:
        """Called on append (and driver-side by the DataSource write
        path): an incoming column whose logical name currently
        resolves to a DROPPED physical is a re-add — mint a fresh
        physical name (rename-chain entry), giving it a new field
        identity so old values never leak in."""
        meta = self._read_meta()
        dropped = meta.get("dropped_columns", [])
        if not dropped:
            return
        dropped_phys = {d["physical"] for d in dropped}
        phys_map = self._physical_of_logical()
        changed = False
        for c in cols:
            if phys_map.get(c, c) in dropped_phys:
                fresh = f"{c}__r{len(meta.get('column_renames', [])) + len(dropped)}"
                meta.setdefault("column_renames", []).append([fresh, c])
                changed = True
        if changed:
            self._write_meta(meta)

    def _apply_widenings_write(self, df: DataFrame) -> DataFrame:
        """Writer-side half of type widening: new files carry the
        widened type (df here is already in PHYSICAL names)."""
        wid = self._read_meta().get("widenings") or {}
        dts = dict(df.dtypes)
        for phys, target in wid.items():
            if phys in dts and dts[phys] != target:
                df = df.withColumn(phys, F_col(phys).cast(target))
        return df

    def _apply_renames(self, df: DataFrame, meta: dict) -> DataFrame:
        from pyspark.sql import functions as F

        for old, new in meta.get("column_renames", []):
            if old in df.columns and new in df.columns:
                # mixed vintages (tables written
                # before stable physical names): each row has the
                # value under exactly one physical name, NULL under
                # the other — coalesce restores the logical column
                df = df.withColumn(new, F.coalesce(F.col(new), F.col(old))).drop(old)
            elif old in df.columns:
                df = df.withColumnRenamed(old, new)
        return df

    def _physical_of_logical(self) -> dict[str, str]:
        """Logical column name → its stable PHYSICAL name (the name
        the column was created under: rename chains walked backward).
        Delta column-mapping semantics — a rename never changes what
        is written in data files, so every vintage shares one
        physical layout and the table is exportable with
        ``delta.columnMapping.mode = name``."""
        phys: dict[str, str] = {}
        for old, new in self._read_meta().get("column_renames", []):
            phys[new] = phys.pop(old, old)
        return phys

    def _apply_reverse_renames(self, df: DataFrame) -> DataFrame:
        """Map logical→physical names before a data-file write (the
        writer-side half of column mapping). Also the central write
        hook for DROP/WIDEN evolution: a re-added dropped column
        mints its fresh physical identity here, and widened columns
        are cast so new files carry the widened type."""
        self._mint_readd_physicals(df.columns)
        for logical, physical in self._physical_of_logical().items():
            if logical in df.columns and physical not in df.columns:
                df = df.withColumnRenamed(logical, physical)
        return self._apply_widenings_write(df)

    def _stat_keys(self, col: str, meta: dict) -> set[str]:
        """All names a logical column's per-file stats may live under:
        itself plus every prior name in its rename chain (stats
        recorded before a rename keep their vintage's key)."""
        keys = {col}
        for old, new in reversed(meta.get("column_renames", [])):
            if new in keys:
                keys.add(old)
        return keys

    # -- partition-spec evolution (Iceberg-style) ------------------------------

    def set_partition_spec(self, cols: list[str]) -> None:
        """Iceberg-style partition-spec EVOLUTION: record a new
        identity-partition spec that applies to FUTURE writes only.
        Files written under older specs stay valid and readable —
        they simply carry no stats for the new partition columns, so
        partition pruning skips nothing in them (scan-safe, exactly
        Iceberg's contract when a spec is evolved). Spec history is
        versioned metadata (spec_id, from_version)."""
        meta = self._read_meta()
        specs = meta.setdefault("partition_specs", [])
        specs.append(
            {
                "spec_id": len(specs),
                "cols": list(cols),
                "from_version": self.latest_version() + 1,
            }
        )
        self._write_meta(meta)

    def partition_spec(self) -> list[str]:
        """Items of the CURRENT partition spec ([] if unpartitioned).
        Each item is a bare column (identity) or an Iceberg-style
        transform: ``month(col)``, ``bucket(N, col)``,
        ``truncate(N, col)``."""
        specs = self._read_meta().get("partition_specs", [])
        return list(specs[-1]["cols"]) if specs else []

    _TRANSFORM_RE = _re.compile(
        r"^\s*(month|bucket|truncate)\s*\(\s*(?:(\d+)\s*,\s*)?([A-Za-z_][\w.]*)\s*\)\s*$"
    )

    def _transform_column(self, item: str, df: DataFrame):
        """Derive the partition-value column for a spec item (Iceberg
        partition transforms — hidden partitioning: the derived value
        is log metadata, never stored in data files)."""
        from pyspark.sql import functions as F

        m = self._TRANSFORM_RE.match(item)
        if not m:
            if item not in df.columns:
                raise ValueError(f"partition spec column {item!r} not in frame")
            return F.col(item)  # identity
        kind, n, col = m.group(1), m.group(2), m.group(3)
        if kind == "month":
            return F.date_format(F.col(col), "yyyy-MM")
        if kind == "bucket":
            if not n:
                raise ValueError(f"bucket transform needs N: {item!r}")
            return F.pmod(F.xxhash64(F.col(col)), int(n)).cast("int")
        if not n:
            raise ValueError(f"truncate transform needs N: {item!r}")
        return (F.floor(F.col(col) / int(n)) * int(n)).cast("bigint")

    def bucket_of(self, item: str, value) -> int:
        """Driver-side bucket number for a point lookup against a
        ``bucket(N, col)`` spec item (same xxhash64 the writer used)."""
        m = self._TRANSFORM_RE.match(item)
        if not m or m.group(1) != "bucket":
            raise ValueError(f"not a bucket transform: {item!r}")
        # Evaluate via a 1-row frame so the hash matches the writer's.
        # The probe is CAST to the table column's actual type —
        # xxhash64 hashes INT and BIGINT (and STRING vs anything)
        # differently, so a hardcoded BIGINT cast probes the wrong
        # bucket for string/date/int columns, and a bare lit() probes
        # the wrong bucket for long columns. Schema resolution is
        # footer metadata only, no data read.
        from pyspark.sql import functions as F

        col = m.group(3)
        probe = F.lit(value)
        try:
            dtype = dict(self.snapshot().dtypes).get(col)
        except ValueError:  # empty table: fall back to the literal's type
            dtype = None
        if dtype is not None:
            probe = probe.cast(dtype)
        df = self.spark.range(1).select(probe.alias(col))
        return df.select(self._transform_column(item, df).alias("b")).collect()[0]["b"]

    def scan_pruned_hidden(self, item: str, lo, hi) -> tuple[DataFrame, int, int]:
        """Zone-map file skipping on a HIDDEN partition value (a
        transform spec item, e.g. ``month(o_orderdate)``): files whose
        recorded transform value overlaps [lo, hi] are scanned; files
        without stats for the item (older specs) are kept — skipping
        must be safe. NO residual predicate is applied (the derived
        column does not exist in the data) — callers filter the raw
        column themselves; correctness never depends on the pruning.
        Returns (df, files_scanned, files_total)."""
        snap = self.pin()
        return self._pruned(
            snap, lambda c, f: self._overlaps(snap.file_stats(c, f).get(item), lo, hi)
        )

    def append_partitioned(
        self, df: DataFrame, operation: str = "append-partitioned"
    ) -> "Commit":
        """Append ``df`` split so every data file holds exactly ONE
        tuple of the current partition spec's values, with per-file
        min==max zone maps on the spec columns — which makes
        ``scan_pruned`` equality lookups on a partition column skip
        every other partition's files, i.e. identity partition
        pruning. Like Iceberg (and unlike Hive layout), partition
        columns remain IN the data files, so every reader path
        (snapshot, time travel, CDF) works unchanged.

        Scale: one write per partition value of the incoming batch —
        correct for identity specs, whose domains are bounded by
        design (a spec over an unbounded column is a modeling error;
        Iceberg's own docs say the same). A single-shuffle
        ``partitionBy`` writer with partition-value recovery is the
        bulk-load alternative; the commit/metadata shape is identical.
        """
        spec = self.partition_spec()
        if not spec:
            raise ValueError("append_partitioned: no partition spec set")
        df = self._apply_generated_columns(df)
        df = self._apply_identity(df)
        self._validate_constraints(df)
        commit_schema = self._ddl_of(self._apply_reverse_renames(df))
        upcasts = self._check_append_types(commit_schema)
        commit_schema.update(upcasts)
        commit_dir = self.path / "data" / f"{uuid.uuid4().hex[:12]}"
        derived = [(item, self._transform_column(item, df)) for item in spec]
        aug = df
        for i, (_item, col) in enumerate(derived):
            aug = aug.withColumn(f"__p{i}", col)
        pcols = [f"__p{i}" for i in range(len(derived))]
        values = sorted(
            (tuple(r[c] for c in pcols) for r in aug.select(*pcols).distinct().collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )
        files: list[str] = []
        stats: dict[str, dict] = {}
        seen: set = set()
        for tup in values:
            part = aug
            for c, v in zip(pcols, tup):
                part = part.where(F_col(c).eqNullSafe(F_lit(v)))
            # hidden partitioning: derived transform values live in the
            # LOG's stats, never in the data files (the Iceberg model)
            ppart = self._apply_reverse_renames(part.drop(*pcols))
            for pc, tgt in upcasts.items():
                ppart = ppart.withColumn(pc, F_col(pc).cast(tgt))
            ppart.write.mode("append").parquet(str(commit_dir))
            now = {
                str(p.relative_to(self.path))
                for p in commit_dir.glob("*.parquet")
                if p.name.startswith("part-")
            }
            for f in sorted(now - seen):
                files.append(f)
                stats[f] = {
                    item: [v, v] for (item, _), v in zip(derived, tup)
                }
            seen = now
        return self._commit_files(
            sorted(files), operation, stats=stats, schema=commit_schema
        )

    # -- VACUUM ---------------------------------------------------------------

    def verify(self) -> dict:
        """Integrity check (fsck for the table): every live file and
        DV file exists with a parseable footer, per-commit recorded
        row counts match the footers, stats keys reference real
        columns of their files, and the rename chain / dropped /
        widening metadata is self-consistent. Returns a report dict
        with an ``errors`` list — EMPTY means the table is sound.
        O(live files) footer reads, no Spark jobs: runnable from any
        operator box against a 100 TB table."""
        import pyarrow.parquet as pq

        errors: list[str] = []
        checked_files = 0
        meta = self._read_meta()
        try:
            live = self._live_files()
        except (json.JSONDecodeError, KeyError, TypeError, ValueError) as e:
            # fsck must REPORT a torn/corrupt commit JSON, never crash
            # on it — locate the offender by parsing one-by-one
            for p in sorted(self.log_dir.glob("*.json")):
                try:
                    self._commit_of(json.loads(p.read_text()))
                except Exception as pe:  # noqa: BLE001 — naming it is the point
                    errors.append(f"unreadable commit {p.name}: {pe}")
            if not errors:
                errors.append(f"commit log unreadable: {e}")
            return {
                "ok": False,
                "errors": errors,
                "files_checked": 0,
                "live_versions": 0,
            }
        by_commit: dict[int, list[str]] = {}
        for c, f in live:
            by_commit.setdefault(c.version, []).append(f)
        commits = {c.version: c for c, _f in live}
        for v, files in sorted(by_commit.items()):
            c = commits[v]
            rows = 0
            for f in files:
                p = Path(f) if f.startswith("/") else self.path / f
                try:
                    md = pq.ParquetFile(str(p)).metadata
                    rows += md.num_rows
                    checked_files += 1
                except FileNotFoundError:
                    errors.append(f"v{v}: missing data file {f}")
                    continue
                except Exception as e:  # torn/corrupt footer
                    errors.append(f"v{v}: unreadable footer {f}: {e}")
                    continue
                fstats = (c.stats or {}).get(f) or {}
                names = set(pq.read_schema(str(p)).names)
                phys = self._physical_of_logical()
                for key in fstats:
                    col = key.split(":", 1)[1] if key.startswith("__bloom__:") else key
                    # stats keys are logical-at-write-time; the file
                    # stores the physical form — accept either
                    if col not in names and phys.get(col, col) not in names:
                        errors.append(f"v{v}: stats key {key!r} not a column of {f}")
            # a commit's recorded row_count covers ALL its files; only
            # comparable when none were superseded by partial rewrites
            if len(files) == len(c.files) and c.row_count != rows:
                errors.append(
                    f"v{v}: recorded row_count {c.row_count} != footer sum {rows}"
                )
        for dvf in (f for c in self._live_commits() for f in c.dv_files or []):
            p = self.path / dvf
            if not p.exists():
                errors.append(f"missing DV file {dvf}")
        # metadata self-consistency
        phys = self._physical_of_logical()
        dropped_pairs = {
            (d["logical"], d["physical"]) for d in meta.get("dropped_columns", [])
        }
        dropped = {p for _l, p in dropped_pairs}
        for logical, physical in phys.items():
            # a dropped column's OWN chain entry legitimately resolves
            # to its dropped physical (until a re-add re-points it);
            # any OTHER live logical resolving there is corruption
            if physical in dropped and (logical, physical) not in dropped_pairs:
                errors.append(
                    f"rename chain maps live column {logical!r} to DROPPED "
                    f"physical {physical!r}"
                )
        for w in meta.get("widenings", {}):
            if w in dropped:
                errors.append(f"widening declared on dropped physical {w!r}")
        # checkpoint integrity — fsck distrusts the checkpoint too: a
        # stale or corrupt checkpoint silently re-routes EVERY
        # snapshot plan, so compare the checkpointed live set against
        # the full-log parse and flag any divergence.
        if self._read_checkpoint() is not None:
            try:
                fast = [(c.version, tuple(c.files)) for c in self._live_commits()]
                full_commits = self.history(allow_truncated=True)
                restates = [c for c in full_commits if c.restate]
                if restates:
                    base = restates[-1]
                    full_commits = [base] + [
                        c
                        for c in full_commits
                        if c.version > base.version and not c.restate
                    ]
                slow = [(c.version, tuple(c.files)) for c in full_commits]
                earliest = self._log_earliest()
                if earliest > 0:
                    # retention-cleaned log: the full parse legitimately
                    # misses live commits below the cutoff — cross-check
                    # only the surviving range (still catches a stale or
                    # corrupt checkpoint TAIL, the realistic damage)
                    fast = [p for p in fast if p[0] >= earliest]
                    slow = [p for p in slow if p[0] >= earliest]
                if fast != slow:
                    errors.append(
                        "checkpoint divergence: checkpointed live set != "
                        "full-log parse (rewrite it with checkpoint(), or "
                        "delete _log/_last_checkpoint to fall back)"
                    )
            except (json.JSONDecodeError, KeyError, TypeError, ValueError) as e:
                # a commit shadowed by the checkpoint is unreadable:
                # reads still plan (fast path), but the audit trail is
                # damaged — report, don't crash
                errors.append(f"unreadable commit in full log: {e}")
        # cross-file schema MERGEABILITY — the one corruption a writer
        # bug actually produces (a type-conflicting commit that landed
        # poisons every read with CANNOT_MERGE_SCHEMAS while each
        # individual footer is perfectly sound). Fold live-file FOOTER
        # schemas (never the recorded ones — fsck distrusts the log)
        # into one unified schema; any irreconcilable vintage names
        # the offending file and column. Pure metadata, O(live files).
        try:
            live = [
                f if f.startswith("/") else str(self.path / f)
                for _c, f in self._live_files()
            ]
            self._fold_schemas(
                self._footer_schema_sources([f for f in live if Path(f).exists()]),
                dropped,
                meta.get("widenings") or {},
            )
        except ValueError as e:
            errors.append(f"schema poisoning: {e}")
        return {
            "ok": not errors,
            "errors": errors,
            "files_checked": checked_files,
            "live_versions": len(by_commit),
        }

    def vacuum(
        self,
        keep_versions: int = 1,
        min_age_seconds: float = 0.0,
        dry_run: bool = False,
    ) -> dict:
        """Physically delete data files reachable only from versions
        older than the retention horizon (Delta VACUUM analog).

        ``keep_versions`` snapshots stay time-travelable: horizon =
        latest - keep_versions + 1. Files in the live set of ANY
        retained version survive; everything else under data/ is
        removed. Time travel below the horizon then raises
        :class:`VacuumHorizonError` instead of failing mid-scan.
        Log entries are kept (history stays auditable) — only data
        files go, exactly like Delta.

        Pinned refs survive the horizon: TAGGED versions keep their
        live file set (Iceberg retains tag-referenced snapshots during
        expiration), and every OPEN BRANCH keeps both its own commit
        files and the fork-version live set it reads under (branch
        data lives in data/<uuid>/ but is referenced only from the
        branch's own log — without this it would be deleted as
        unreachable, corrupting the branch and any later merge).

        ``min_age_seconds`` is Delta's retention guard: files younger
        than it survive even when unreferenced, because they may be an
        IN-FLIGHT writer's staged output (written, not yet committed —
        the datasource write path stages files before its atomic
        publish). Production sets this to hours/days like Delta's
        ``deletedFileRetentionDuration``; 0 (tests) trusts that no
        writer is concurrent."""
        latest = self.latest_version()
        if latest < 0:
            return {"deleted": 0, "horizon": 0}
        horizon = max(0, latest - keep_versions + 1)
        keep: set[str] = set()
        pinned = set(self.tags().values())
        for name, info in self.branches().items():
            pinned.add(info["fork_version"])
            keep.update(f for c in self._branch_commits(name) for f in c.files)
        for v in sorted(set(range(horizon, latest + 1)) | pinned):
            try:
                for _c, f in self._live_files(v):
                    keep.add(f)
                for c in self._live_commits(v):
                    keep.update(c.dv_files or [])
            except LogRetentionError:
                # clean_log reclaimed this version's replay chain: it
                # is unreadable (time travel to it raises the same
                # recipe), so it pins no files — any file it shared
                # with a reconstructible version is kept via that one
                continue
        deleted = 0
        victims: list[str] = []
        now = _time.time()
        data_dir = self.path / "data"

        def _too_young(f: Path) -> bool:
            if not min_age_seconds:
                return False
            try:
                return now - f.stat().st_mtime < min_age_seconds
            except OSError:
                return True

        for f in sorted(data_dir.rglob("*.parquet")):
            rel = str(f.relative_to(self.path))
            if rel not in keep:
                if _too_young(f):
                    continue  # possibly an in-flight writer's staging
                if dry_run:
                    victims.append(rel)
                    continue
                f.unlink()
                deleted += 1
        # Crash residue (round 11, removeOrphanFiles parity with the
        # Iceberg-side sweep): a writer that died mid-write leaves
        # NON-parquet staging under its commit dir (_temporary/
        # attempt dirs, .crc sidecars, a stray _SUCCESS) that the
        # parquet pass above never touches — committed-by-no-one
        # forever, since commits reference parquet files only. Any
        # non-parquet file whose top-level commit dir holds NO kept
        # parquet is unreferenced by construction; reclaim it under
        # the SAME age rail (an in-flight writer's staging is always
        # younger than the rail).
        kept_tops = {
            Path(f).parts[1]
            for f in keep
            if not os.path.isabs(f) and Path(f).parts[:1] == ("data",)
            and len(Path(f).parts) > 2
        }
        for f in sorted(data_dir.rglob("*")):
            if not f.is_file() or f.suffix == ".parquet":
                continue
            rel_parts = f.relative_to(data_dir).parts
            if rel_parts and rel_parts[0] in kept_tops:
                continue  # a live commit dir's own metadata: keep
            if _too_young(f):
                continue
            rel = str(f.relative_to(self.path))
            if dry_run:
                victims.append(rel)
                continue
            f.unlink()
            deleted += 1
        if dry_run:
            # report only — no files touched, horizon NOT advanced
            return {"deleted": 0, "horizon": horizon, "would_delete": victims}
        # drop now-empty dirs, deepest first (a crashed write nests
        # _temporary/<attempt>/<task> dirs below the commit dir)
        for d in sorted(data_dir.rglob("*"), reverse=True):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
        for d in sorted(data_dir.glob("*"), reverse=True):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
        meta = self._read_meta()
        meta["vacuum_horizon"] = horizon
        self._write_meta(meta)
        return {"deleted": deleted, "horizon": horizon}

    def clean_log(
        self,
        keep_versions: int = 100,
        min_age_seconds: float = 0.0,
        dry_run: bool = False,
    ) -> dict:
        """Commit-LOG retention (Delta's metadata cleanup; the native
        twin of ``delta_export._clean_log``): delete commit JSONs below
        ``cutoff = min(newest checkpoint version, head − keep_versions
        + 1)`` — never a JSON at/above the newest checkpoint, because
        every surviving reader path replays checkpoint + tail (the
        checkpoint body carries the live commit set, stats, schemas
        and DV refs; the pointer carries the streaming txn high-waters
        forward, so writer replay-dedup survives cleanup too). Without
        a checkpoint nothing is deleted: every reader would need the
        full chain.

        Why it matters at scale: the log itself was the last unbounded
        metadata population — every streaming trigger's
        ``latestOffset`` pays one O(log size) directory listing, so a
        long-lived CDC table accretes listing cost forever (measured:
        ~8× per-trigger planning growth from 250 → 2,000 commits;
        ``tools/admission_probe.py``). With retention the listing is
        pinned at O(keep_versions + tail).

        Consequences, all LOUD (``LogRetentionError`` recipes, never a
        silent truncated replay): time travel below the cutoff raises
        unless a surviving restate covers the base; a CDF/stream
        window whose floor predates the earliest surviving JSON
        raises (restart from a fresh snapshot); a FULL re-export
        raises (incremental exports resume O(new commits) and are
        unaffected). ``version_at_timestamp`` below the cutoff raises
        the same way.

        ``min_age_seconds`` is the vacuum-style age rail: a commit
        JSON younger than it survives even below the cutoff (a reader
        planning against it may still be in flight — same contract as
        ``vacuum``'s in-flight-writer guard). The earliest SURVIVING
        version is recorded in ``_meta.json`` (``log_earliest``) and
        is what every guard checks."""
        head = self.latest_version()
        try:
            ckv = int(
                json.loads(
                    (self.log_dir / "_last_checkpoint").read_text()
                )["version"]
            )
        except (OSError, ValueError, KeyError, json.JSONDecodeError):
            return {"deleted": 0, "earliest": self._log_earliest()}
        cutoff = min(ckv, head - keep_versions + 1)
        if cutoff <= 0:
            return {"deleted": 0, "earliest": self._log_earliest()}
        now = _time.time()
        # PLAN first (no deletes yet), ASCENDING, stopping at the first
        # age-kept version: the survivors must be a CONTIGUOUS suffix
        # of the log — deleting above a kept version would leave a gap
        # the recorded log_earliest then vouches for as complete (every
        # guard compares against ONE earliest bound, so a hole above it
        # would silently lose a reader's window)
        victims: list[tuple[int, Path]] = []
        earliest = cutoff
        for p in sorted(self.log_dir.glob("*.json")):
            try:
                v = int(p.stem)
            except ValueError:
                continue
            if v >= cutoff:
                break
            if min_age_seconds:
                try:
                    young = now - p.stat().st_mtime < min_age_seconds
                except OSError:
                    young = True
                if young:
                    # age rail: this and everything ABOVE it survives
                    earliest = v
                    break
            victims.append((v, p))
        if dry_run:
            return {
                "deleted": 0,
                "earliest": self._log_earliest(),
                "would_delete": [v for v, _p in victims],
            }
        # WRITE-AHEAD: record the new earliest BEFORE any unlink — a
        # crash mid-delete then leaves the guards CONSERVATIVE (they
        # refuse some still-readable versions until the next clean)
        # instead of DISABLED (silently replaying a truncated chain,
        # the exact hazard this feature's guards exist to prevent)
        meta = self._read_meta()
        meta["log_earliest"] = max(meta.get("log_earliest", 0), earliest)
        self._write_meta(meta)
        deleted = 0
        for _v, p in victims:
            p.unlink(missing_ok=True)
            deleted += 1
        return {"deleted": deleted, "earliest": meta["log_earliest"]}

    def set_log_retention(self, keep_versions: int | None) -> None:
        """Table property for AUTOMATIC log retention (Delta's
        ``delta.logRetentionDuration`` analog, in the version domain):
        once set, every auto-checkpoint (the 10-commit cadence on the
        append/streaming-sink paths) also runs
        ``clean_log(keep_versions)`` — a long-lived CDC sink keeps its
        ``_log`` population bounded with no maintenance job. ``None``
        or 0 clears the property. All ``clean_log`` guards apply
        unchanged (loud recipes below the cutoff)."""
        if keep_versions is not None and keep_versions < 0:
            raise ValueError(f"keep_versions: {keep_versions}")
        meta = self._read_meta()
        if keep_versions:
            meta["log_retention_versions"] = int(keep_versions)
        else:
            meta.pop("log_retention_versions", None)
        self._write_meta(meta)

    def _log_earliest(self) -> int:
        """Earliest commit version whose JSON is guaranteed present
        (0 = never cleaned). Every completeness guard checks this."""
        return int(self._read_meta().get("log_earliest", 0))

    def _check_log_window(self, since_version: int) -> None:
        """Incremental-window completeness: a cursor whose window
        floor predates the earliest surviving commit JSON must raise
        the recipe — ``_commits_between`` would otherwise silently
        skip the reclaimed versions and the reader would lose their
        changes (the lagging-stream hazard of log retention)."""
        earliest = self._log_earliest()
        if earliest > 0 and since_version + 1 < earliest:
            raise LogRetentionError(
                f"cursor v{since_version} predates the log-retention "
                f"cutoff v{earliest}: clean_log reclaimed the window's "
                "commit JSONs; restart the reader from a fresh snapshot"
            )

    def require_full_history(self, what: str) -> None:
        """Raise the retention recipe when ``history()`` would be a
        TRUNCATED chain — for consumers that need every commit ever
        (full exports, audit walks); incremental consumers resume
        from their own cursor and never call this."""
        earliest = self._log_earliest()
        if earliest > 0:
            raise LogRetentionError(
                f"{what} needs the full commit history, but clean_log "
                f"reclaimed JSONs below v{earliest}; use the "
                "incremental path (resume from the prior export/"
                "cursor) or re-create the consumer from a snapshot"
            )

    def _check_horizon(self, version: int | None, meta: dict) -> None:
        horizon = meta.get("vacuum_horizon", 0)
        if version is not None and version < horizon:
            # tag-pinned and branch-fork versions keep their files
            # through vacuum (see vacuum docstring) — still readable
            pinned = set(meta.get("tags", {}).values()) | {
                b["fork_version"] for b in meta.get("branches", {}).values()
            }
            if version in pinned:
                return
            raise VacuumHorizonError(
                f"version {version} predates vacuum horizon {horizon}: "
                "its data files were deleted"
            )

    # -- bloom-filter file skipping -------------------------------------------

    BLOOM_M = 8192  # bits per file; ~1% FP at ~850 distinct keys
    BLOOM_K = 4

    @staticmethod
    def _bloom_positions_sql(col: str, m: int, k: int) -> list[str]:
        """k bit positions from disjoint 32-bit slices of
        md5(CAST(col AS STRING)) — deterministic and identically
        computable driver-side (``_bloom_positions_py``), so probe and
        build can never drift. Works for integer/string keys (cast to
        string canonicalizes)."""
        return [
            f"CAST(conv(substring(md5(CAST({col} AS STRING)), {8 * i + 1}, 8), 16, 10) AS BIGINT) % {m}"
            for i in range(k)
        ]

    @staticmethod
    def _bloom_positions_py(value, m: int, k: int) -> list[int]:
        import hashlib

        h = hashlib.md5(str(value).encode()).hexdigest()
        return [int(h[8 * i : 8 * i + 8], 16) % m for i in range(k)]

    def _bloom_stats(self, commit_dir: Path, files: list[str], col: str) -> dict:
        """Per-file bloom bitsets for ``col``, built distributed (one
        scan of the new files, positions collected per file — the set
        is capped at m=8192 distinct ints per file)."""
        import base64

        from pyspark.sql import functions as F

        m, k = self.BLOOM_M, self.BLOOM_K
        pos_exprs = self._bloom_positions_sql(col, m, k)
        df = (
            self.spark.read.parquet(str(commit_dir))
            .select(
                F.input_file_name().alias("__file"),
                F.explode(F.array(*[F.expr(e) for e in pos_exprs])).alias("__pos"),
            )
            .groupBy("__file")
            .agg(F.collect_set("__pos").alias("__bits"))
        )
        out = {}
        by_name = {Path(f).name: f for f in files}
        for r in df.collect():
            name = Path(r["__file"]).name
            rel = by_name.get(name)
            if rel is None:
                continue
            bits = bytearray(m // 8)
            for pos in r["__bits"]:
                bits[pos // 8] |= 1 << (pos % 8)
            out[rel] = {
                "m": m,
                "k": k,
                "b64": base64.b64encode(bytes(bits)).decode(),
            }
        return out

    def _blooms_for(self, commit_dir: Path, files: list[str], cols: list[str]) -> dict:
        """{file: {``__bloom__:col``: descriptor}} for freshly written
        ``files`` and logical ``cols`` — the stats a commit records
        so :meth:`scan_point` can skip them."""
        phys = self._physical_of_logical()  # after minting: re-adds resolve fresh
        out: dict = {}
        for bc in cols:
            for f, bl in self._bloom_stats(commit_dir, files, phys.get(bc, bc)).items():
                out.setdefault(f, {})[f"__bloom__:{bc}"] = bl
        return out

    def scan_point(self, col: str, value) -> tuple[DataFrame, int, int]:
        """Point lookup with bloom-filter file skipping: files whose
        bloom for ``col`` proves the key absent are never scanned
        (files without a bloom are kept — skipping must be safe).
        Returns (df, files_scanned, files_total).

        Zone maps (``scan_pruned``) skip by RANGE; blooms skip by
        MEMBERSHIP — the high-cardinality point-lookup complement
        (needle-in-100TB id probes)."""
        import base64

        snap = self.pin()
        # rename-chain vintages: a file written before rename_column
        # carries its bloom under the OLD physical name — probe every
        # vintage key, exactly like scan_pruned's zone-map lookup.
        keys = [f"__bloom__:{k}" for k in self._stat_keys(col, snap.meta)]

        def keep(c, f):
            # checkpointed commits keep blooms in the side-car; tail
            # commits carry them inline (inline wins on collision)
            fstats = snap.file_stats(c, f, blooms=True)
            bl = next((fstats[k] for k in keys if k in fstats), None)
            if bl is None:
                return True
            bits = base64.b64decode(bl["b64"])
            return all(
                bits[p // 8] & (1 << (p % 8))
                for p in self._bloom_positions_py(value, bl["m"], bl["k"])
            )

        df, n, total = self._pruned(snap, keep)
        return df.where(F_col(col) == value), n, total

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def maintain_rollup(
    spark: SparkSession,
    source: "LakehouseTable",
    target: "LakehouseTable",
    key_cols: list[str],
    agg_col: str,
    cursor: int,
) -> int:
    """Incremental view maintenance: fold the source's change feed
    since ``cursor`` into a per-key (count, sum) rollup table via
    MERGE, returning the new cursor. The rollup after any sequence of
    maintenance calls equals a full recompute. Reads the CDF, so
    deletion-vector deletes maintain correctly too (signed fold:
    inserts +, deletes −; count/sum are self-maintainable).

    On RestateAcrossCursorError (a full merge/delete rewrite crossed
    the cursor) the rollup is rebuilt from the current snapshot — the
    documented recovery path for incremental readers.

    Scale: each call shuffles only the delta (grouped per key, partial
    map-side) plus the MERGE's keyed anti-join on the rollup — the
    rollup table is |keys|-sized, not history-sized. This is the
    foreachBatch streaming-upsert pattern (streaming/jobs.py)
    re-expressed for batch cursors.
    """
    from pyspark.sql import functions as F

    new_cursor = source.latest_version()
    try:
        delta = source.read_changes_cdf(cursor)
    except (RestateAcrossCursorError, LogRetentionError):
        # LogRetentionError: the source's clean_log reclaimed this
        # cursor's window — same recovery as a restate: rebuild
        delta = None
    empty_target = target.latest_version() < 0
    if delta is None:  # rebuild from snapshot
        full = (
            source.snapshot()
            .groupBy(*key_cols)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(agg_col).alias("total"),
            )
        )
        if not empty_target:
            target.delete_where("true")  # restate to empty, drop stale keys
        target.append(full, operation="rollup-rebuild")
        return new_cursor
    # signed fold: inserts contribute +1/+x, deletes (from deletion-
    # vector commits in the feed) contribute -1/-x — count/sum are
    # self-maintainable aggregates, so the rollup stays exact across
    # row-level deletes without any rebuild
    sign = F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(F.lit(1))
    inc = (
        delta.withColumn("_sign", sign)
        .groupBy(*key_cols)
        .agg(
            F.sum("_sign").alias("n_rows"),
            F.sum(F.col(agg_col) * F.col("_sign")).alias("total"),
        )
    )
    if inc.isEmpty():
        return new_cursor
    if empty_target:  # bootstrap: first fold is a plain append
        # a key whose inserts and deletes cancel inside the window has
        # no rows in a full recompute — don't materialize it
        target.append(inc.where(F.col("n_rows") != 0), operation="rollup-bootstrap")
        return new_cursor
    current = target.snapshot().select(*key_cols, "n_rows", "total")
    merged = (
        current.unionByName(inc)
        .groupBy(*key_cols)
        .agg(F.sum("n_rows").alias("n_rows"), F.sum("total").alias("total"))
    )
    # Keys whose rows were ALL deleted fold to n_rows == 0; a full
    # recompute would have no such key, so drop them from the rollup.
    # sync_delete_unmatched does it in the same commit: every surviving
    # target key appears in `merged` (it includes current), so the only
    # keys absent from `live` are exactly the zero-count ones.
    live = merged.where(F.col("n_rows") != 0)
    target.merge(live, key_cols=key_cols, sync_delete_unmatched=True)
    return new_cursor


def maintain_join(
    spark: SparkSession,
    left: "LakehouseTable",
    right: "LakehouseTable",
    target: "LakehouseTable",
    on: list[str],
    left_cursor: int,
    right_cursor: int,
) -> tuple[int, int]:
    """Incremental view maintenance for a materialized INNER JOIN —
    the delta-join algebra, maintain_rollup's binary sibling. The
    target stores the joined rows at (all-columns) grain with a
    multiplicity column ``m`` (bag semantics), and each call folds

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_new ⋈ ΔB

    (the exact bag identity for A_new⋈B_new − A_old⋈B_old) into it
    via MERGE, dropping rows whose multiplicity reaches zero. B_old
    comes from TIME TRAVEL at the right cursor — no shadow copies.
    After any sequence of appends/DV-deletes on either side, the
    target equals a full recompute of the join grouped by all columns
    (pinned in tests/test_lakehouse_maint.py); on
    RestateAcrossCursorError or a vacuumed time-travel horizon it
    rebuilds from the current snapshots, the documented recovery path.

    Scale: each call joins only the DELTAS against one full side —
    cost O(|Δ| x join fan-out), not O(|A| x |B|); the MERGE is a
    keyed anti-join on the |view|-sized target. This is how a 100 TB
    materialized join stays fresh under streaming upserts without
    re-running the join.
    """
    from pyspark.sql import functions as F

    new_left, new_right = left.latest_version(), right.latest_version()

    def _signed(delta):
        return delta.withColumn(
            "_sign",
            F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(F.lit(1)),
        ).drop("_change_type", "_commit_version", "_commit_timestamp")

    try:
        da = _signed(left.read_changes_cdf(left_cursor))
        db = _signed(right.read_changes_cdf(right_cursor))
        b_old = (
            right.snapshot(version=right_cursor)
            if right_cursor >= 0
            else right.snapshot().limit(0)
        )
    except (RestateAcrossCursorError, VacuumHorizonError, LogRetentionError):
        # LogRetentionError covers both the delta window and the
        # right-cursor time travel on a retention-cleaned table —
        # recovery is the same rebuild-from-current-snapshots
        da = None
    a_new = left.snapshot()

    empty_target = target.latest_version() < 0
    if da is None:  # rebuild from snapshots
        full = a_new.join(right.snapshot(), on)
        cols = full.columns
        grouped = full.groupBy(*cols).agg(F.count(F.lit(1)).alias("m"))
        if not empty_target:
            target.delete_where("true")
        target.append(grouped, operation="join-ivm-rebuild")
        return new_left, new_right

    d1 = da.join(b_old, on)
    d2 = a_new.join(db, on)
    value_cols = [c for c in d1.columns if c != "_sign"]
    inc = (
        d1.select(*value_cols, "_sign")
        .unionByName(d2.select(*value_cols, "_sign"))
        .groupBy(*value_cols)
        .agg(F.sum("_sign").alias("m"))
        .where(F.col("m") != 0)
    )
    if inc.isEmpty():
        return new_left, new_right
    if empty_target:
        target.append(inc.where(F.col("m") > 0), operation="join-ivm-bootstrap")
        return new_left, new_right
    current = target.snapshot().select(*value_cols, "m")
    merged = (
        current.unionByName(inc)
        .groupBy(*value_cols)
        .agg(F.sum("m").alias("m"))
    )
    live = merged.where(F.col("m") != 0)
    target.merge(live, key_cols=value_cols, sync_delete_unmatched=True)
    return new_left, new_right


@_query(
    "lakehouse_bloom_pointlookup",
    oracle="""
    SELECT o_orderkey AS order_id, o_custkey,
           CAST(round(o_totalprice, 2) AS DOUBLE) AS o_totalprice
    FROM orders WHERE o_orderkey IN (77, 7777)
    """,
    tags=("lakehouse", "bloom", "pointlookup"),
)
def lakehouse_bloom_pointlookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Needle-in-haystack id probes through bloom file skipping:
    ingest orders into a lakehouse table in 4 disjoint commits with
    per-file blooms on o_orderkey, RENAME the key column mid-history
    (column mapping: physical names stay stable, so two bloom-key
    vintages coexist), partially COMPACT one bin (RemoveFile
    semantics — the superseded files must not be double-scanned),
    then point-look-up two keys by the NEW logical name — files whose
    bloom proves the key absent are never opened.

    The membership complement to zone-map range pruning: at 100 TB a
    point probe touches O(1) files instead of O(table). Results are
    oracle-checked against the raw parquet; tests additionally pin
    that files are actually skipped."""
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_bloom_"))
    for shard in range(2):
        t.append(
            o.where(F.col("o_orderkey") % 4 == shard).repartition(2),
            bloom_cols=["o_orderkey"],
        )
    # rename mid-history: pre-rename files keep blooms under
    # __bloom__:o_orderkey, post-rename appends record them under the
    # new logical name — scan_point must probe BOTH vintages
    t.rename_column("o_orderkey", "order_id")
    renamed = o.withColumnRenamed("o_orderkey", "order_id")
    for shard in range(2, 4):
        t.append(
            renamed.where(F.col("order_id") % 4 == shard).repartition(2),
            bloom_cols=["order_id"],
        )
    # partial compaction supersedes shard-0's files; scanning both the
    # rewrite and its sources would return duplicate rows
    first_bin = list(t.history()[0].files)
    t.compact_files(first_bin)
    parts = []
    for key in (77, 7777):
        df, _, _ = t.scan_point("order_id", key)
        parts.append(df)
    out = parts[0].unionByName(parts[1]).select(
        "order_id", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return out.localCheckpoint()


@_query(
    "lakehouse_dv_delete",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE NOT (o_totalprice < 50000)
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "dv"),
)
def lakehouse_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector round trip under the oracle gate: ingest orders
    into a lakehouse table (two commits), DV-delete the cheap orders
    WITHOUT rewriting any file, and aggregate the survivors — the
    oracle computes the same rollup with the predicate inverted on the
    raw parquet, so a hash match proves row-exact DV semantics.

    Scale: the delete writes O(matched) positions; the read applies
    one anti-join on (file, row index). Against a 100 TB table this
    is the seconds-vs-hours difference from the rewrite path."""
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_dv_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0).repartition(2))
    t.append(o.where(F.col("o_orderkey") % 2 == 1).repartition(2))
    t.delete_where_dv("o_totalprice < 50000")
    out = (
        t.snapshot()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )
    return out.localCheckpoint()


@_query(
    "lakehouse_cdf_feed",
    oracle="""
    SELECT o_orderkey,
           o_orderstatus,
           CAST(round(o_totalprice, 2) AS DOUBLE) AS o_totalprice,
           'insert' AS _change_type,
           CAST(1 AS INTEGER) AS _commit_version
    FROM orders WHERE o_orderkey % 2 = 1
    UNION ALL
    SELECT o_orderkey, o_orderstatus,
           CAST(round(o_totalprice, 2) AS DOUBLE) AS o_totalprice,
           'delete' AS _change_type,
           CAST(2 AS INTEGER) AS _commit_version
    FROM orders WHERE o_totalprice < 50000
    """,
    tags=("lakehouse", "cdf", "dv"),
)
def lakehouse_cdf_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed round trip under the oracle gate: seed with
    even orders (v0), append odd orders (v1), DV-delete the cheap ones
    (v2), then read the feed since v0 — the oracle reconstructs the
    exact insert/delete rows with their commit versions from the raw
    parquet, so a hash match proves row- and version-exact CDF
    semantics end to end (append path AND deletion-vector recovery).
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_cdf_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0).repartition(2))
    v0 = t.latest_version()
    t.append(o.where(F.col("o_orderkey") % 2 == 1).repartition(2))
    t.delete_where_dv("o_totalprice < 50000")
    # _commit_timestamp is wall-clock (non-deterministic for the
    # oracle); its value-correctness gate is cdf_commit_timestamp_feed
    return t.read_changes_cdf(v0).drop("_commit_timestamp").localCheckpoint()


def table_diff(
    table: "LakehouseTable", from_version: int, to_version: int | None = None
) -> DataFrame:
    """Row-level diff between two snapshots: full-row EXCEPT ALL both
    ways, labeled ``added`` / ``removed`` — "what changed between
    version X and now", independent of how it changed (append, merge,
    DV delete, restore...).

    Scale: two shuffles on the full row hash (EXCEPT ALL is a keyed
    anti-count under the hood); for key-carrying tables prefer the
    CDF (O(changes)) — the diff is the fallback that needs no log
    semantics, only the two snapshots.
    """
    from pyspark.sql import functions as F

    old = table.snapshot(version=from_version)
    new = table.snapshot(version=to_version)
    added = new.exceptAll(old).withColumn("_diff_type", F.lit("added"))
    removed = old.exceptAll(new).withColumn("_diff_type", F.lit("removed"))
    return added.unionByName(removed)


@_query(
    "lakehouse_history_table",
    oracle="""
    WITH t AS (
      SELECT count(*) AS c,
             count(*) FILTER (WHERE o_orderkey % 2 = 0) AS even,
             count(*) FILTER (WHERE o_orderkey % 2 = 1) AS odd
      FROM orders
    )
    SELECT CAST(0 AS INTEGER) AS version, 'append' AS operation,
           CAST(even AS BIGINT) AS row_count, false AS restate, true AS data_change
    FROM t
    UNION ALL SELECT 1, 'append', CAST(odd AS BIGINT), false, true FROM t
    UNION ALL SELECT 2, 'delete_dv', CAST(0 AS BIGINT), false, true FROM t
    UNION ALL SELECT 3, 'compact', CAST(c AS BIGINT), true, false FROM t
    """,
    tags=("lakehouse", "metadata"),
)
def lakehouse_history_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DESCRIBE HISTORY parity: the commit log surfaced as a queryable
    DataFrame (version, operation, row counts, restate/dataChange
    flags) — the audit metadata table every lakehouse exposes. The
    oracle states the EXPECTED history of the deterministic op
    sequence outright, so a hash match proves both the operations'
    logged metadata and the table's accounting.

    Note the compact's row_count == the full order count even though
    a DV delete precedes it: the rewrite materializes the DV-filtered
    snapshot... which here deleted 0 rows (predicate matches none),
    keeping the expected values derivable in one subquery.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_hist_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0).coalesce(1))
    t.append(o.where(F.col("o_orderkey") % 2 == 1).coalesce(1))
    t.delete_where_dv("o_totalprice < 0")  # matches nothing: metadata-only commit
    t.compact()
    hist = t.history()
    rows = [
        (c.version, c.operation, c.row_count, c.restate, c.data_change) for c in hist
    ]
    return spark.createDataFrame(
        rows, "version int, operation string, row_count bigint, restate boolean, data_change boolean"
    )


@_query(
    "lakehouse_clone_shallow",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE NOT (o_totalprice < 20000)
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "clone"),
)
def lakehouse_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow CLONE round trip under the oracle gate: ingest orders
    (two commits), DV-delete the cheap orders, SHALLOW-clone the
    table (zero data copied — the clone's commit references the
    source's files and deletion vectors by absolute path), then
    aggregate from the CLONE's snapshot. The oracle computes the same
    rollup from raw parquet, so a hash match proves the clone's read
    path is row-exact including carried deletion vectors.

    Scale: CLONE is O(metadata) at any table size — the operation
    real pipelines use to fork a 100 TB table for an experiment in
    milliseconds (Delta CREATE TABLE CLONE semantics).
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_clonesrc_"))
    t.append(o.where(F.col("o_orderkey") % 2 == 0).coalesce(1))
    t.append(o.where(F.col("o_orderkey") % 2 == 1).coalesce(1))
    t.delete_where_dv("o_totalprice < 20000")
    clone = t.clone(tempfile.mkdtemp(prefix="lh_clonedst_") + "/c", shallow=True)
    out = (
        clone.snapshot()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_price"),
        )
    )
    return out.localCheckpoint()


def scd2_history(
    updates: DataFrame,
    key_cols: list[str],
    attr_cols: list[str],
    effective_col: str,
) -> DataFrame:
    """Build a type-2 slowly-changing-dimension history from a stream
    of keyed attribute observations: consecutive observations whose
    attributes did not change produce NO new version (change
    detection via per-attribute lag comparison — null-safe), and each
    surviving version carries [valid_from, valid_to) with
    ``is_current`` on the open row. Pure DataFrame algebra: two
    window passes over (key, effective-time) — one shuffle on the
    key, no Python — the standard Delta/warehouse SCD2 shape.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy(*key_cols).orderBy(effective_col)
    changed_pred = None
    for a in attr_cols:
        diff = ~F.col(a).eqNullSafe(F.lag(F.col(a)).over(w))
        changed_pred = diff if changed_pred is None else (changed_pred | diff)
    first = F.row_number().over(w) == 1
    kept = updates.withColumn("_keep", first | changed_pred).where(F.col("_keep")).drop(
        "_keep"
    )
    w2 = Window.partitionBy(*key_cols).orderBy(effective_col)
    return (
        kept.withColumn("valid_from", F.col(effective_col))
        .withColumn("valid_to", F.lead("valid_from").over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .drop(effective_col)
    )


@_query(
    "dim_scd2_history",
    oracle="""
    WITH obs AS (
      SELECT c_custkey, c_mktsegment, c_acctbal,
             TIMESTAMP '2020-01-01' AS eff
      FROM customer
      UNION ALL
      SELECT c_custkey, c_mktsegment,
             CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 100, 2)
                  ELSE c_acctbal END,
             TIMESTAMP '2020-06-01'
      FROM customer
      UNION ALL
      SELECT c_custkey,
             CASE WHEN c_custkey % 5 = 0 THEN 'MOVED' ELSE c_mktsegment END,
             CASE WHEN c_custkey % 3 = 0 THEN round(c_acctbal + 100, 2)
                  ELSE c_acctbal END,
             TIMESTAMP '2021-01-01'
      FROM customer
    ),
    lagged AS (
      SELECT *,
             lag(c_mktsegment) OVER w AS pm,
             lag(c_acctbal) OVER w AS pa,
             row_number() OVER w AS rn
      FROM obs
      WINDOW w AS (PARTITION BY c_custkey ORDER BY eff)
    ),
    kept AS (
      SELECT c_custkey, c_mktsegment, c_acctbal, eff
      FROM lagged
      WHERE rn = 1
         OR (c_mktsegment IS DISTINCT FROM pm)
         OR (c_acctbal IS DISTINCT FROM pa)
    )
    SELECT c_custkey, c_mktsegment,
           CAST(round(c_acctbal, 2) AS DOUBLE) AS c_acctbal,
           eff AS valid_from,
           lead(eff) OVER (PARTITION BY c_custkey ORDER BY eff) AS valid_to,
           lead(eff) OVER (PARTITION BY c_custkey ORDER BY eff) IS NULL
             AS is_current
    FROM kept
    """,
    tags=("lakehouse", "scd2", "window"),
)
def dim_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD over a deterministic three-snapshot customer feed
    (balance bump for every third key at mid-year, segment move for
    every fifth key at year end): no-change observations collapse,
    real changes version with [valid_from, valid_to) intervals and a
    current flag. The oracle rebuilds the identical history with SQL
    windows, so the hash match proves change detection AND interval
    assignment. Scale: one shuffle on the dimension key — dimension
    tables are the small side of a lakehouse; history grows with
    change rate, not fact volume.
    """
    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    c = _lt(spark, sf_dir, "customer")
    v1 = c.select(
        "c_custkey", "c_mktsegment", "c_acctbal", F.lit("2020-01-01").cast("timestamp").alias("eff")
    )
    v2 = c.select(
        "c_custkey",
        "c_mktsegment",
        F.when(F.col("c_custkey") % 3 == 0, F.round(F.col("c_acctbal") + 100, 2))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.lit("2020-06-01").cast("timestamp").alias("eff"),
    )
    v3 = c.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 5 == 0, F.lit("MOVED"))
        .otherwise(F.col("c_mktsegment"))
        .alias("c_mktsegment"),
        F.when(F.col("c_custkey") % 3 == 0, F.round(F.col("c_acctbal") + 100, 2))
        .otherwise(F.col("c_acctbal"))
        .alias("c_acctbal"),
        F.lit("2021-01-01").cast("timestamp").alias("eff"),
    )
    obs = v1.unionByName(v2).unionByName(v3)
    hist = scd2_history(obs, ["c_custkey"], ["c_mktsegment", "c_acctbal"], "eff")
    return hist.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 2).alias("c_acctbal"),
        "valid_from",
        "valid_to",
        "is_current",
    )


@_query(
    "lakehouse_join_ivm",
    oracle="""
    WITH a AS (
      SELECT o_custkey AS custkey, o_orderkey,
             CAST(round(o_totalprice, 2) AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 20 = 0
    ), b AS (
      SELECT c_custkey AS custkey, c_mktsegment
      FROM customer WHERE c_custkey % 2 = 0 AND c_mktsegment <> 'BUILDING'
    )
    SELECT a.custkey, a.o_orderkey, a.price, b.c_mktsegment,
           CAST(1 AS BIGINT) AS m
    FROM a JOIN b USING (custkey)
    """,
    tags=("lakehouse", "ivm", "join"),
)
def lakehouse_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-join IVM under the oracle gate: two lakehouse
    tables receive a scripted sequence of appends and a DV-delete,
    with ``maintain_join`` folding each window's delta-join into the
    target — and the final materialized view hash-matches the oracle's
    one-shot SQL join of the END state. Incremental == recompute,
    proven on real commits (including a deletion-vector window).
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        F.round("o_totalprice", 2).cast("double").alias("price"),
    ).where(F.col("o_orderkey") % 20 == 0)
    c = _lt(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    ).where(F.col("custkey") % 2 == 0)

    a = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_qa_"))
    b = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_qb_"))
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ivm_qt_"))
    ca = cb = -1
    # window 1: majority of the left, full right
    a.append(o.where(F.col("custkey") % 3 != 0))
    b.append(c)
    ca, cb = maintain_join(spark, a, b, t, ["custkey"], ca, cb)
    # window 2: late-arriving left rows
    a.append(o.where(F.col("custkey") % 3 == 0))
    ca, cb = maintain_join(spark, a, b, t, ["custkey"], ca, cb)
    # window 3: DV-delete a segment on the right
    b.delete_where_dv("c_mktsegment = 'BUILDING'")
    ca, cb = maintain_join(spark, a, b, t, ["custkey"], ca, cb)
    return t.snapshot().select("custkey", "o_orderkey", "price", "c_mktsegment", "m")


def optimize_advisor(table: "LakehouseTable") -> dict:
    """Table-health advisor: file-layout statistics plus a concrete
    maintenance recommendation — the heuristic every lakehouse
    platform runs before auto-OPTIMIZE. Reads ONLY the commit log
    (file counts, per-commit row counts, deletion-vector coverage) —
    O(log), no data scanned, at any table size.

    Recommendations:
    - ``compact``: many small files (avg rows/file below threshold or
      file count per live commit high) — bin-pack via ``compact()``.
    - ``rewrite_dvs``: deletion vectors shadow a large fraction of
      rows — fold them into a rewrite (``delete_where`` semantics)
      so scans stop paying the anti-join.
    - ``vacuum``: many superseded commits hold dead files.
    - ``healthy``: none of the above.
    """
    snap = table.pin()
    n_files = len(snap.files)
    live_rows = snap.rows + snap.dv_rows  # rows in the live files
    dv_rows = snap.dv_rows
    # versions are contiguous from 0: every one not in the live chain is dead
    dead_commits = snap.version + 1 - len(snap.commits)
    avg_rows_per_file = live_rows / n_files if n_files else 0.0
    dv_fraction = dv_rows / live_rows if live_rows else 0.0
    if n_files > 0 and (avg_rows_per_file < 5000 and n_files >= 8):
        rec = "compact"
    elif dv_fraction > 0.2:
        rec = "rewrite_dvs"
    elif dead_commits >= 5:
        rec = "vacuum"
    else:
        rec = "healthy"
    return {
        "n_live_files": n_files,
        "live_rows": live_rows,
        "avg_rows_per_file": round(avg_rows_per_file, 2),
        "dv_shadowed_fraction": round(dv_fraction, 6),
        "dead_commits": dead_commits,
        "recommendation": rec,
    }


@_query("lakehouse_optimize_advisor", oracle=None, tags=("lakehouse", "maintenance"))
def lakehouse_optimize_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The advisor under the gate: a deliberately fragmented ingest
    (many tiny appended files) must be diagnosed ``compact``; after
    running the recommended compaction the same table must read
    ``healthy`` — the observe→act→verify loop of automated table
    maintenance, returned as two advisor rows (rows-only: the advisor
    reads commit-log internals no SQL oracle can see)."""
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.session import load_table as _lt

    o = _lt(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_advisor_"))
    for i in range(4):
        t.append(o.where(F.col("o_orderkey") % 4 == i).repartition(4))
    before = optimize_advisor(t)
    if before["recommendation"] == "compact":
        t.compact(target_partitions=2)
    after = optimize_advisor(t)
    rows = [
        ("before", before["n_live_files"], before["avg_rows_per_file"], before["recommendation"]),
        ("after", after["n_live_files"], after["avg_rows_per_file"], after["recommendation"]),
    ]
    return spark.createDataFrame(
        rows,
        "phase string, n_live_files int, avg_rows_per_file double, recommendation string",
    )
