"""Delta-protocol interop for :class:`LakehouseTable`: render the
native commit history as a spec-compliant ``_delta_log`` (and replay
one back) so external Delta Lake readers can open the table.

The sandbox ships no delta-spark package (BASELINE.md names Delta/
Iceberg as the reference deployment's table layer), so protocol
compliance is what we can offer: the log this module writes follows
the public Delta transaction-log specification
(github.com/delta-io/delta/blob/master/PROTOCOL.md):

- one ``%020d.json`` per version holding newline-delimited actions;
- version 0 carries ``protocol`` (minReader 1 / minWriter 2 for plain
  tables; 2/5 with columnMapping; 3/7 + table-feature lists when the
  table has deletion vectors) and ``metaData`` (id, parquet format,
  Spark schemaString — logical names + physicalName/field-id metadata
  under columnMapping);
- native DV commits export per PROTOCOL.md §Deletion Vectors: each
  affected file is removed and re-added with its CUMULATIVE deleted
  row indexes as an inline (storageType "i", Z85) 64-bit
  RoaringBitmapArray descriptor — no data file rewritten, and the
  replay applies the bitmaps as a merge-on-read anti-join;
- appends carry one ``add`` per data file with ``partitionValues``,
  ``size``, ``modificationTime``, ``dataChange`` and a ``stats`` JSON
  string (numRecords + minValues/maxValues from the native zone maps);
- restates (merge/delete/compact) emit ``remove`` for every
  previously-live file plus ``add`` for the rewrite, compactions with
  ``dataChange: false`` exactly like OPTIMIZE;
- every commit gets a ``commitInfo`` with the native operation name;
- every ``checkpoint_interval`` commits a parquet checkpoint
  (``%020d.checkpoint.parquet`` holding the full replayed state as
  one action per row: protocol / metaData / live adds) plus a
  ``_last_checkpoint`` pointer, per PROTOCOL.md §Checkpoints — so a
  reader opens a 100k-commit table from the newest checkpoint + the
  JSON tail instead of replaying every commit.

``read_delta_log`` replays add/remove actions into the live file set
— the same reconstruction any Delta reader performs, checkpoint-first
when one exists — and the tests assert replay == the native snapshot
at every version, so the export is validated end-to-end without the
package.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from lakehouse_test_spark.plans.lakehouse import LakehouseTable, txn_marker

PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
#: column mapping requires reader 2 / writer 5 (PROTOCOL.md §Column Mapping)
PROTOCOL_COLUMN_MAPPING = {"minReaderVersion": 2, "minWriterVersion": 5}


# ---------------------------------------------------------------------------
# Deletion vectors (PROTOCOL.md §Deletion Vectors): per-file deleted row
# indexes as a 64-bit RoaringBitmapArray, carried INLINE in the add
# action's deletionVector descriptor (storageType "i", Z85-encoded).
# The bitmap serialization below is the public RoaringFormatSpec
# "portable" layout (array + bitmap containers, no-run cookie), written
# from scratch and roundtrip-tested; no third-party reader exists in
# the sandbox, so replay tests are the validation, like the rest of
# the exporters.
# ---------------------------------------------------------------------------

_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}
_ROARING_ARRAY_MAGIC = 1681511377  # Delta's RoaringBitmapArray magic
_SERIAL_COOKIE_NO_RUN = 12346  # RoaringFormatSpec: no run containers


def _z85_encode(data: bytes) -> str:
    """ZeroMQ Z85 (the spec requires len % 4 == 0; Delta pads the
    serialized DV to a 4-byte boundary and records the true length in
    sizeInBytes)."""
    if len(data) % 4:
        data = data + b"\x00" * (4 - len(data) % 4)
    out = []
    for i in range(0, len(data), 4):
        v = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, rem = divmod(v, 85)
            chunk.append(_Z85_ALPHABET[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def _z85_decode(text: str) -> bytes:
    out = bytearray()
    for i in range(0, len(text), 5):
        v = 0
        for c in text[i : i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


def _roaring32_serialize(values: list[int]) -> bytes:
    """One 32-bit roaring bitmap, RoaringFormatSpec portable layout:
    no-run cookie + container headers + offsets + container data
    (array containers ≤4096 entries, else 8 KiB bitmap containers)."""
    import struct as _s

    by_key: dict[int, list[int]] = {}
    for v in sorted(set(values)):
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    out = bytearray()
    out += _s.pack("<ii", _SERIAL_COOKIE_NO_RUN, len(keys))
    for k in keys:
        out += _s.pack("<HH", k, len(by_key[k]) - 1)
    # container byte offsets (from stream start)
    data_start = 8 + 4 * len(keys) + 4 * len(keys)
    offsets, pos = [], data_start
    for k in keys:
        offsets.append(pos)
        pos += 2 * len(by_key[k]) if len(by_key[k]) <= 4096 else 8192
    for o in offsets:
        out += _s.pack("<i", o)
    for k in keys:
        lows = by_key[k]
        if len(lows) <= 4096:
            out += _s.pack(f"<{len(lows)}H", *lows)
        else:
            bits = bytearray(8192)
            for lo in lows:
                bits[lo >> 3] |= 1 << (lo & 7)
            out += bits
    return bytes(out)


def _roaring32_deserialize(buf: bytes, pos: int = 0) -> tuple[list[int], int]:
    import struct as _s

    cookie, n = _s.unpack_from("<ii", buf, pos)
    if cookie != _SERIAL_COOKIE_NO_RUN:
        raise ValueError(f"unsupported roaring cookie {cookie}")
    base = pos
    hdr = pos + 8
    keys, cards = [], []
    for i in range(n):
        k, c1 = _s.unpack_from("<HH", buf, hdr + 4 * i)
        keys.append(k)
        cards.append(c1 + 1)
    offs = [
        _s.unpack_from("<i", buf, hdr + 4 * n + 4 * i)[0] for i in range(n)
    ]
    values: list[int] = []
    end = hdr + 4 * n + 4 * n  # absolute: just past the offsets block
    for k, card, off in zip(keys, cards, offs):
        p = base + off
        if card <= 4096:
            lows = _s.unpack_from(f"<{card}H", buf, p)
            end = max(end, p + 2 * card)
            values.extend((k << 16) | lo for lo in lows)
        else:
            bits = buf[p : p + 8192]
            end = max(end, p + 8192)
            for byte_i, b in enumerate(bits):
                while b:
                    low_bit = b & (-b)
                    values.append((k << 16) | (byte_i << 3) | (low_bit.bit_length() - 1))
                    b ^= low_bit
    return values, end


def serialize_dv(positions: list[int]) -> bytes:
    """64-bit RoaringBitmapArray: magic, number of 32-bit buckets,
    then each bucket's portable roaring bitmap (bucket i covers
    [i·2³², (i+1)·2³²))."""
    import struct as _s

    buckets: dict[int, list[int]] = {}
    for p in positions:
        buckets.setdefault(p >> 32, []).append(p & 0xFFFFFFFF)
    # buckets are positional (value = index·2³² + low32): serialize
    # consecutively from 0, empty bitmaps filling any gaps
    n = (max(buckets) + 1) if buckets else 0
    out = bytearray(_s.pack("<iq", _ROARING_ARRAY_MAGIC, n))
    for hi in range(n):
        out += _roaring32_serialize(buckets.get(hi, []))
    return bytes(out)


def deserialize_dv(buf: bytes) -> list[int]:
    import struct as _s

    magic, n = _s.unpack_from("<iq", buf, 0)
    if magic != _ROARING_ARRAY_MAGIC:
        raise ValueError(f"bad RoaringBitmapArray magic {magic}")
    pos = 12
    values: list[int] = []
    for hi in range(n):
        vals, pos = _roaring32_deserialize(buf, pos)
        values.extend((hi << 32) | v for v in vals)
    return values


def dv_descriptor(positions: list[int]) -> dict:
    """Inline deletionVector descriptor for an add action."""
    data = serialize_dv(sorted(positions))
    return {
        "storageType": "i",
        "pathOrInlineDv": _z85_encode(data),
        "sizeInBytes": len(data),
        "cardinality": len(set(positions)),
    }


def dv_positions(descriptor: dict) -> list[int]:
    if descriptor["storageType"] != "i":
        raise ValueError(f"unsupported DV storage {descriptor['storageType']}")
    data = _z85_decode(descriptor["pathOrInlineDv"])[: descriptor["sizeInBytes"]]
    return deserialize_dv(data)


def _with_column_mapping(schema_json: str, phys_map: dict[str, str]) -> tuple[str, int]:
    """Physical parquet schema JSON → logical Delta ``schemaString``
    with column-mapping metadata: every field carries
    ``delta.columnMapping.id`` and ``delta.columnMapping.physicalName``
    (PROTOCOL.md §Column Mapping, mode=name). The native table keeps
    physical names stable across renames (``_apply_reverse_renames``),
    so one physicalName per field describes every file vintage.
    Returns (schemaString, maxColumnId)."""
    logical_of_phys = {p: l for l, p in phys_map.items()}
    sch = json.loads(schema_json)
    max_id = 0
    for i, f in enumerate(sch.get("fields", []), start=1):
        physical = f["name"]
        f["name"] = logical_of_phys.get(physical, physical)
        md = dict(f.get("metadata") or {})
        md["delta.columnMapping.id"] = i
        md["delta.columnMapping.physicalName"] = physical
        f["metadata"] = md
        max_id = i
    return json.dumps(sch), max_id


def _checkpoint_schema():
    """Arrow schema of a Delta checkpoint parquet: one action per row,
    exactly one of the struct columns non-null (PROTOCOL.md
    §Checkpoint-Schema)."""
    import pyarrow as pa

    return pa.schema(
        [
            (
                "protocol",
                pa.struct(
                    [
                        ("minReaderVersion", pa.int32()),
                        ("minWriterVersion", pa.int32()),
                    ]
                ),
            ),
            (
                "metaData",
                pa.struct(
                    [
                        ("id", pa.string()),
                        ("format", pa.struct([("provider", pa.string())])),
                        ("schemaString", pa.string()),
                        ("partitionColumns", pa.list_(pa.string())),
                        ("configuration", pa.map_(pa.string(), pa.string())),
                        ("createdTime", pa.int64()),
                    ]
                ),
            ),
            (
                "add",
                pa.struct(
                    [
                        ("path", pa.string()),
                        ("partitionValues", pa.map_(pa.string(), pa.string())),
                        ("size", pa.int64()),
                        ("modificationTime", pa.int64()),
                        ("dataChange", pa.bool_()),
                        ("stats", pa.string()),
                        (
                            "deletionVector",
                            pa.struct(
                                [
                                    ("storageType", pa.string()),
                                    ("pathOrInlineDv", pa.string()),
                                    ("offset", pa.int32()),
                                    ("sizeInBytes", pa.int32()),
                                    ("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            (
                "txn",
                pa.struct(
                    [
                        ("appId", pa.string()),
                        ("version", pa.int64()),
                        ("lastUpdated", pa.int64()),
                    ]
                ),
            ),
        ]
    )


def _write_checkpoint(
    log_dir: Path,
    version: int,
    metadata_action: dict,
    live_adds: dict[str, dict],
    protocol: dict | None = None,
    txns: dict[str, dict] | None = None,
) -> None:
    """Write ``%020d.checkpoint.parquet`` (full state at ``version``)
    and repoint ``_last_checkpoint`` at it. ``txns`` carries the
    newest SetTransaction per appId — the spec REQUIRES checkpoints to
    retain them (a streaming writer resuming from the checkpoint must
    still see its idempotence high-water)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows: list[dict] = [{"protocol": protocol or PROTOCOL}]
    for app in sorted(txns or {}):
        rows.append({"txn": txns[app]})
    md = dict(metadata_action["metaData"])
    md["format"] = {"provider": md.get("format", {}).get("provider", "parquet")}
    md["configuration"] = [
        (k, v) for k, v in (md.get("configuration") or {}).items()
    ]
    rows.append({"metaData": md})
    for path in sorted(live_adds):
        add = dict(live_adds[path])
        add["partitionValues"] = [
            (k, v) for k, v in (add.get("partitionValues") or {}).items()
        ]
        rows.append({"add": add})
    table = pa.Table.from_pylist(rows, schema=_checkpoint_schema())
    pq.write_table(table, str(log_dir / f"{version:020d}.checkpoint.parquet"))
    (log_dir / "_last_checkpoint").write_text(
        json.dumps({"version": version, "size": table.num_rows})
    )


def _dv_by_file(table: LakehouseTable, commit) -> dict[str, set[int]]:
    """A DV commit's deleted positions grouped by table-relative data
    file path (the native DV parquet stores absolute paths)."""
    from urllib.parse import urlparse

    import pyarrow.parquet as pq

    root = table.path.resolve()
    out: dict[str, set[int]] = {}
    rel_of: dict[str, str] = {}  # raw path → table-relative (few distinct)

    def _rel(p: str) -> str:
        r = rel_of.get(p)
        if r is None:
            ap = Path(urlparse(p).path if p.startswith("file:") else p).resolve()
            try:
                r = str(ap.relative_to(root))
            except ValueError:
                # CONVERTed tables reference files OUTSIDE the table
                # dir; their add.path is the absolute string (the
                # Delta spec allows absolute paths), so the DV key
                # must match it verbatim
                r = str(ap)
            rel_of[p] = r
        return r

    for dvf in commit.dv_files or []:
        if not (table.path / dvf).exists():
            continue  # vacuumed DV: superseded by the restate above it
        t = pq.read_table(str(table.path / dvf))
        for p, pos in zip(
            t.column("_dv_file").to_pylist(), t.column("_dv_pos").to_pylist()
        ):
            out.setdefault(_rel(str(p)), set()).add(int(pos))
    return out


def _stats_json(
    table: LakehouseTable, commit, rel_path: str, phys: dict | None = None
) -> str | None:
    """Delta per-file stats string from the native zone maps (plus an
    exact numRecords from the parquet footer). Under columnMapping,
    stats are keyed by PHYSICAL column names (what the files store)."""
    import pyarrow.parquet as pq

    if not (table.path / rel_path).exists():
        return None  # vacuumed below the horizon: no footer to read
    md = pq.ParquetFile(str(table.path / rel_path)).metadata
    stats: dict = {"numRecords": md.num_rows}
    zone = (commit.stats or {}).get(rel_path)
    if zone:
        # keep only real-column zone maps: hidden-partitioning stats are
        # keyed by TRANSFORM items ("bucket(2, k)") and bloom sidecars by
        # "__bloom__:" — neither is a Delta stats column
        cols = {
            c: b
            for c, b in zone.items()
            if "(" not in c and not c.startswith("__")
        }
        if cols:
            p_ = phys or {}
            stats["minValues"] = {p_.get(c, c): lo for c, (lo, hi) in cols.items()}
            stats["maxValues"] = {p_.get(c, c): hi for c, (lo, hi) in cols.items()}
    return json.dumps(stats, default=str)


def _export_fingerprint(
    tmeta: dict, generated: dict, identity: dict, constraints: dict
) -> str:
    """Digest of every table-metadata input that shapes EXPORTED
    history retroactively (renames/drops/widenings rewrite the
    columnMapping config of every metaData action; constraints/
    generated/identity ride in configuration + protocol). A change
    here invalidates incremental export — the full rewrite path
    re-derives everything."""
    import hashlib

    basis = json.dumps(
        {
            "renames": tmeta.get("column_renames", []),
            "dropped": tmeta.get("dropped_columns", []),
            "widenings": tmeta.get("widenings") or {},
            "constraints": constraints,
            "generated": generated,
            "identity": identity,
        },
        sort_keys=True,
    )
    return hashlib.md5(basis.encode()).hexdigest()


def _resume_point(log_dir: Path, fingerprint: str) -> tuple[int, str] | None:
    """(exported head version, its pre-mapping schema json) when the
    exported log's newest commit carries a matching lakehouseExport
    stamp — the incremental-export handshake. None = full rewrite."""
    heads = [
        int(p.stem)
        for p in log_dir.glob("*.json")
        if p.stem.isdigit()
    ]
    if not heads:
        return None
    head = max(heads)
    try:
        for line in (log_dir / f"{head:020d}.json").read_text().splitlines():
            action = json.loads(line) if line.strip() else {}
            stamp = (action.get("commitInfo") or {}).get("lakehouseExport")
            if stamp:
                if stamp.get("fingerprint") != fingerprint:
                    return None
                return head, stamp["schema"]
    except (OSError, json.JSONDecodeError, KeyError):
        return None
    return None


def _replay_txn_map(log_dir: Path) -> dict[str, dict]:
    """appId → newest SetTransaction from an exported log (checkpoint
    txn rows + JSON tail) — the state the incremental exporter's next
    checkpoint must carry forward."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    start_after = -1
    lc = log_dir / "_last_checkpoint"
    if lc.exists():
        v = int(json.loads(lc.read_text())["version"])
        for pf in sorted(log_dir.glob(f"{v:020d}.checkpoint*.parquet")):
            t = pq.read_table(str(pf))
            if "txn" in t.column_names:
                for row in t.column("txn").to_pylist():
                    if row:
                        out[row["appId"]] = dict(row)
        start_after = v
    for p in sorted(log_dir.glob("*.json")):
        if not p.stem.isdigit() or int(p.stem) <= start_after:
            continue
        for line in p.read_text().splitlines():
            if not line.strip():
                continue
            txn = json.loads(line).get("txn")
            if txn:
                out[txn["appId"]] = dict(txn)
    return out


def export_delta_log(
    spark: SparkSession,
    table: LakehouseTable,
    checkpoint_interval: int = 10,
    incremental: bool = True,
    log_retention_versions: int | None = None,
) -> Path:
    """Write ``_delta_log/`` at the table root from the native commit
    history. Idempotent; returns its path. Every
    ``checkpoint_interval`` commits the full state is also written as
    a parquet checkpoint + ``_last_checkpoint`` pointer (0 disables),
    so readers replay O(interval) JSON commits, not O(history).

    INCREMENTAL by default: when a previous export's stamp (the
    ``lakehouseExport`` commitInfo field — fingerprint of every
    retroactive metadata input + the running schema) matches, only
    the commits PAST the exported head are generated, with state
    (live adds, cumulative DVs, schema) reconstructed from the
    exported log itself — a streaming table exporting per micro-batch
    pays O(new commits), not O(history) per call. Any ALTER
    (rename/drop/widen/constraint/generated) or an identity column
    changes the fingerprint → full rewrite (those inputs rewrite
    every metaData action retroactively). A DV feature appearing
    mid-log on the incremental path emits a Delta protocol-upgrade
    action instead (the spec's own mechanism).

    Scale: the export touches parquet *footers* only — per-file
    metadata, no data I/O.

    RETENTION (``log_retention_versions=N`` — Delta's metadata
    cleanup): after the export, commit JSONs and checkpoint files
    below ``min(newest checkpoint, head - N + 1)`` are deleted, so a
    per-micro-batch export loop holds ``_delta_log/`` at
    O(N + checkpoint_interval) files instead of O(total commits).
    Readers replay checkpoint + tail as always; time travel below the
    cutoff raises a descriptive error (never a silently truncated
    replay). A no-op until a checkpoint exists.
    """
    if log_retention_versions is not None and log_retention_versions < 1:
        raise ValueError(
            f"log_retention_versions must be >= 1, got "
            f"{log_retention_versions}"
        )
    log_dir = table.path / "_delta_log"

    phys_map = table._physical_of_logical()  # logical → stable physical
    tmeta = table._read_meta()
    constraints = dict(tmeta.get("constraints", {}))
    generated = table.generated_columns()
    identity = table.identity_columns()
    widenings = tmeta.get("widenings") or {}
    # Delta's rule: DROP COLUMN (like rename) requires column mapping —
    # the schemaString simply omits the field while its physical data
    # stays in place, invisible to physicalName-driven readers
    needs_mapping = bool(phys_map) or bool(tmeta.get("dropped_columns"))
    fingerprint = _export_fingerprint(tmeta, generated, identity, constraints)

    resume: tuple[int, str] | None = None
    if incremental and not identity and log_dir.exists():
        # identity allocation advances with every append (the metaData
        # highWaterMark must track it) — identity tables always take
        # the full path
        resume = _resume_point(log_dir, fingerprint)
        if resume is not None and resume[0] >= table.latest_version():
            return log_dir  # exported head is current: no-op
    if resume is None:
        if log_dir.exists():
            import shutil

            shutil.rmtree(log_dir)
        log_dir.mkdir(parents=True)
        history = table.history()
    else:
        # log-retention window guard (r10 ADVICE): if the exported
        # head lags below the clean_log cutoff, _commits_between would
        # silently OMIT the reclaimed commits and the export would be
        # silently incomplete — the exact truncated-replay hazard the
        # retention guards exist to prevent. Raise the recipe instead
        # (the full-export path raises through history() already).
        table._check_log_window(resume[0])
        history = table._commits_between(resume[0], None)
    has_dv = any(c.dv_files for c in history)
    exported_protocol: dict | None = None
    if resume is not None:
        # the exported protocol rules until a NEW feature appears in
        # the tail (then a protocol-UPGRADE action is emitted — the
        # spec's own evolution mechanism, never a history rewrite)
        try:
            for line in (log_dir / f"{0:020d}.json").read_text().splitlines():
                p = json.loads(line).get("protocol") if line.strip() else None
                if p:
                    exported_protocol = p
                    break
        except (OSError, json.JSONDecodeError):
            pass
        if exported_protocol and "deletionVectors" in (
            exported_protocol.get("readerFeatures") or []
        ):
            has_dv = True
    if has_dv or widenings:
        # deletion vectors / type widening are TABLE FEATURES:
        # reader 3 / writer 7 with explicit feature lists (PROTOCOL.md
        # §Table Features); legacy features must be listed too once
        # features are explicit
        wfeats, rfeats = [], []
        if has_dv:
            wfeats.append("deletionVectors")
            rfeats.append("deletionVectors")
        if widenings:
            # readers must upcast old INT32 vintages into the widened
            # schema type at scan (Delta §Type Widening)
            wfeats.append("typeWidening")
            rfeats.append("typeWidening")
        if needs_mapping:
            wfeats.append("columnMapping")
            rfeats.append("columnMapping")
        if constraints:
            wfeats.append("checkConstraints")
        if generated:
            wfeats.append("generatedColumns")
        protocol = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": rfeats,
            "writerFeatures": wfeats,
        }
    elif needs_mapping:
        protocol = PROTOCOL_COLUMN_MAPPING  # writer 5 covers 3/4 features
    elif generated:
        protocol = {"minReaderVersion": 1, "minWriterVersion": 4}
    elif constraints:
        # CHECK constraints are the legacy writer-3 feature
        protocol = {"minReaderVersion": 1, "minWriterVersion": 3}
    else:
        protocol = PROTOCOL

    def _schema_of(files: list[str]) -> str:
        # vacuumed files (below the retention horizon) have no footers;
        # derive the schema from the survivors, falling back to the
        # current snapshot's schema when an entire vintage is gone.
        # The table's own fold (not a raw footer merge): DROPPED
        # physicals must not leak into the exported schema and WIDENED
        # columns export their target type (mixed int/bigint vintages
        # would otherwise fail the schema merge outright).
        present = [str(table.path / f) for f in files if (table.path / f).exists()]
        if not present:
            return table.snapshot().schema.json() if files else "{}"
        u = table._fold(table._read_meta(), [(None, f) for f in present])
        return table._read_data(present, u).schema.json()

    # ---- merged-live-schema FOLD (round 8): the per-commit schema
    # check used to call _schema_of over the ENTIRE live set — one
    # mergeSchema footer pass per schema-bearing commit, O(live files)
    # per incremental call on a 10⁵-file table. Commit-RECORDED
    # schemas fold the same surface from already-parsed log JSON;
    # footers remain only for legacy commits lacking one (fold_broken
    # flips once and the footer path takes over for the rest).
    meta0 = table._read_meta()
    dropped0 = {d["physical"] for d in meta0.get("dropped_columns", [])}
    wid0 = meta0.get("widenings") or {}
    fields_live: dict[str, str] = {}  # physical → recorded ddl fold

    def _fold_tail_commit(c) -> bool:
        if c.schema is None:
            return False
        for name, ddl in c.schema.items():
            prev = fields_live.get(name)
            if prev is None or prev == ddl:
                fields_live[name] = ddl
            elif LakehouseTable._widens_to(prev, ddl):
                fields_live[name] = ddl
            elif not LakehouseTable._widens_to(ddl, prev):
                return False  # irreconcilable: let footers decide
        return True

    _render_cache: dict[tuple, str | None] = {}

    def _render_fold() -> str | None:
        # memoized on the fold content: a 10³-commit export whose
        # schema never changes renders (and analyzes) exactly once
        key = tuple(fields_live.items())
        if key in _render_cache:
            return _render_cache[key]
        try:
            u = table._fold_schemas([("live", dict(fields_live))], dropped0, wid0)
            if not u:
                out = None
            else:
                ddl = ", ".join(f"`{n}` {t}" for n, t in u.items())
                out = table.spark.createDataFrame([], ddl).schema.json()
        except Exception:  # any render failure → footer path decides
            out = None
        _render_cache[key] = out
        return out

    def _metadata_action(schema_json: str, now_ms: int) -> dict:
        configuration: dict[str, str] = {}
        if needs_mapping:
            schema_json, max_id = _with_column_mapping(schema_json, phys_map)
            configuration = {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": str(max_id),
            }
        # CHECK constraints ride in the table configuration
        # (PROTOCOL.md §CHECK Constraints)
        for cname, expr in constraints.items():
            configuration[f"delta.constraints.{cname}"] = expr
        # generated columns are schema-field metadata
        # (PROTOCOL.md §Generated Columns)
        if generated:
            sch = json.loads(schema_json)
            for f in sch.get("fields", []):
                if f["name"] in generated:
                    md_ = dict(f.get("metadata") or {})
                    md_["delta.generationExpression"] = generated[f["name"]]
                    f["metadata"] = md_
            schema_json = json.dumps(sch)
        if identity:
            # identity columns are schema-field metadata
            # (PROTOCOL.md §Identity Columns): start/step plus the
            # high-water mark a Delta writer would resume from
            sch = json.loads(schema_json)
            for f in sch.get("fields", []):
                spec = identity.get(f["name"])
                if spec:
                    md_ = dict(f.get("metadata") or {})
                    md_["delta.identity.start"] = spec["start"]
                    md_["delta.identity.step"] = spec["step"]
                    md_["delta.identity.highWaterMark"] = (
                        spec["start"] + spec["step"] * (spec["allocated"] - 1)
                        if spec["allocated"]
                        else spec["start"] - spec["step"]
                    )
                    md_["delta.identity.allowExplicitInsert"] = False
                    f["metadata"] = md_
            schema_json = json.dumps(sch)
        return {
            "metaData": {
                "id": f"{table.path.name}-delta-export",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_json,
                "partitionColumns": [],
                "configuration": configuration,
                "createdTime": now_ms,
            }
        }

    current_schema: str | None = None
    current_meta: dict | None = None
    live: list[str] = []
    live_adds: dict[str, dict] = {}
    live_dv: dict[str, set[int]] = {}  # file → deleted row indexes
    txn_high: dict[str, dict] = {}  # appId → newest SetTransaction
    pending_protocol: dict | None = None
    fold_broken = False
    if resume is not None:
        # reconstruct the generator state from the EXPORTED log — the
        # same replay an external Delta reader performs, so resumed
        # generation continues bit-compatibly
        current_schema = resume[1]
        # seed the schema fold from the exported schemaString (field
        # order preserved, so an unchanged tail emits no spurious
        # metaData action)
        try:
            from pyspark.sql.types import StructType

            for f0 in StructType.fromJson(json.loads(current_schema)).fields:
                phys = (f0.metadata or {}).get(
                    "delta.columnMapping.physicalName", f0.name
                )
                fields_live[phys] = f0.dataType.simpleString()
        except Exception:
            fold_broken = True  # unparseable vintage: footer path
        live_adds, _ckv, _replayed, meta_inner = _replay_state(str(table.path))
        live = list(live_adds)
        for f, add in live_adds.items():
            if add.get("deletionVector"):
                live_dv[f] = set(dv_positions(add["deletionVector"]))
        if meta_inner is not None:
            current_meta = {"metaData": meta_inner}
        txn_high = _replay_txn_map(log_dir)
        if exported_protocol is not None and protocol != exported_protocol:
            pending_protocol = protocol  # upgrade rides the next commit
    for commit in history:
        actions: list[dict] = []
        now_ms = int(time.time() * 1000)
        if pending_protocol is not None:
            actions.append({"protocol": pending_protocol})
            pending_protocol = None
        # streaming micro-batch commits carry the writer's txn
        # high-water as a SetTransaction action (PROTOCOL.md
        # §Transaction Identifiers) — an external Delta writer doing
        # idempotent appends reads exactly this to dedup replays.
        # Driven by the commit's EXPLICIT txn field; tables opened
        # with legacy_txn_compat=True also fold the pre-txn-field
        # operation-label encoding (txn_marker) so re-exports of old
        # tables keep their SetTransaction actions.
        marker = txn_marker(commit, getattr(table, "legacy_txn_compat", False))
        if marker:
            app, num = marker
            txn = {"appId": app, "version": num, "lastUpdated": now_ms}
            actions.append({"txn": txn})
            txn_high[app] = txn
        if commit.version == 0:
            actions.append({"protocol": protocol})
            fields_live.clear()
            s0 = (
                _render_fold()
                if not fold_broken and _fold_tail_commit(commit)
                else None
            )
            if s0 is None:
                fold_broken = True
                s0 = _schema_of(commit.files)
            current_schema = s0
            current_meta = _metadata_action(current_schema, now_ms)
            actions.append(current_meta)
        elif commit.files:
            # Delta requires a fresh metaData action in the commit that
            # changes the schema — without it a reader never learns
            # about evolved (added) columns. The reference point is the
            # MERGED schema of the post-commit live set, so an append
            # that still carries the old (narrower) schema never
            # regresses the published one. Computed by the recorded-
            # schema FOLD (zero file reads); footer merge only for
            # legacy vintages.
            if commit.restate:
                fields_live.clear()
            merged_schema = (
                _render_fold()
                if not fold_broken and _fold_tail_commit(commit)
                else None
            )
            if merged_schema is None:
                fold_broken = True
                next_live = (
                    commit.files
                    if commit.restate
                    else [
                        f
                        for f in live
                        if f not in set(commit.removed_files or [])
                    ]
                    + commit.files
                )
                merged_schema = _schema_of(next_live)
            if merged_schema != current_schema:
                current_schema = merged_schema
                current_meta = _metadata_action(current_schema, now_ms)
                actions.append(current_meta)
        if commit.restate:
            for f in live:
                actions.append(
                    {
                        "remove": {
                            "path": f,
                            "deletionTimestamp": now_ms,
                            "dataChange": commit.data_change,
                        }
                    }
                )
            live = []
            live_adds = {}
            live_dv = {}
        elif commit.removed_files:
            # partial rewrite (compact_files): RemoveFile for exactly
            # the replaced files — PROTOCOL.md's OPTIMIZE shape
            for f in commit.removed_files:
                actions.append(
                    {
                        "remove": {
                            "path": f,
                            "deletionTimestamp": now_ms,
                            "dataChange": commit.data_change,
                        }
                    }
                )
            gone = set(commit.removed_files)
            live = [f for f in live if f not in gone]
            for f in gone:
                live_adds.pop(f, None)
                live_dv.pop(f, None)
        for f in commit.files:
            p = table.path / f
            # a vacuumed file still gets its add action (log
            # completeness: a later restate removes it in replay, and
            # time travel below the horizon fails at scan time exactly
            # like the native VacuumHorizonError contract)
            exists = p.exists()
            add = {
                "path": f,
                "partitionValues": {},
                "size": p.stat().st_size if exists else 0,
                "modificationTime": int(p.stat().st_mtime * 1000) if exists else 0,
                "dataChange": commit.data_change,
                "stats": _stats_json(table, commit, f, phys_map),
            }
            actions.append({"add": add})
            live.append(f)
            live_adds[f] = add
        if commit.dv_files:
            # native DV commit → per affected file: remove + re-add
            # with the file's CUMULATIVE deletion vector inline
            # (PROTOCOL.md: a DV update re-adds the file with its new
            # vector; replay keeps the latest add per path)
            for rel, new_pos in sorted(_dv_by_file(table, commit).items()):
                old = live_adds.get(rel)
                if old is None:
                    continue  # DV on a non-live file: nothing to export
                cum = live_dv.setdefault(rel, set())
                cum |= new_pos
                actions.append(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
                new_add = dict(old)
                new_add["deletionVector"] = dv_descriptor(sorted(cum))
                new_add["dataChange"] = True
                actions.append({"add": new_add})
                live_adds[rel] = new_add
        actions.append(
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": commit.operation.upper(),
                    "operationParameters": {},
                    "engineInfo": "lakehouse_test_spark delta-export",
                    # incremental-export handshake: fingerprint of the
                    # retroactive metadata inputs + the running schema,
                    # read back by the next export call to resume
                    "lakehouseExport": {
                        "fingerprint": fingerprint,
                        "schema": current_schema,
                    },
                }
            }
        )
        (log_dir / f"{commit.version:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions) + "\n"
        )
        if (
            checkpoint_interval
            and commit.version > 0
            and commit.version % checkpoint_interval == 0
        ):
            assert current_meta is not None
            _write_checkpoint(
                log_dir, commit.version, current_meta, live_adds, protocol, txn_high
            )
    if log_retention_versions is not None:
        _clean_log(log_dir, table.latest_version(), log_retention_versions)
    return log_dir


def _clean_log(log_dir: Path, head: int, keep_versions: int) -> None:
    """Delta's metadata cleanup (log retention): delete commit JSONs
    and checkpoint files below ``cutoff = min(newest checkpoint,
    head - keep_versions + 1)`` — never a JSON ABOVE the newest
    checkpoint (readers replay checkpoint + tail; the checkpoint's
    txn rows carry SetTransaction state forward, so streaming-writer
    dedup survives cleanup too). Without a checkpoint nothing is
    deleted: every reader would need the full JSON chain. Time travel
    below the cutoff becomes unavailable — ``_replay_state`` raises
    the documented recipe instead of silently replaying a truncated
    chain (missing early commits would otherwise fabricate a smaller
    table)."""
    lc = log_dir / "_last_checkpoint"
    if not lc.exists():
        return
    try:
        ckpt_v = int(json.loads(lc.read_text())["version"])
    except (OSError, ValueError, KeyError, json.JSONDecodeError):
        return
    cutoff = min(ckpt_v, head - keep_versions + 1)
    if cutoff <= 0:
        return
    for p in log_dir.glob("*.json"):
        if p.stem.isdigit() and int(p.stem) < cutoff:
            p.unlink(missing_ok=True)
    for p in log_dir.glob("*.checkpoint*.parquet"):
        v = p.name.split(".")[0]
        if v.isdigit() and int(v) < cutoff:
            p.unlink(missing_ok=True)


def _replay_state(
    table_path: str, version: int | None = None
) -> tuple[dict[str, dict], int | None, list[int], dict | None]:
    """Replay the log to ``version``: checkpoint-first when the newest
    eligible checkpoint exists, then the JSON tail. Returns
    (live add-actions by path, checkpoint version used or None,
    JSON commit versions replayed, newest metaData action) — the
    extras let tests pin that a long history is NOT replayed
    commit-by-commit, and metaData carries the columnMapping a reader
    must apply.
    """
    log_dir = Path(table_path) / "_delta_log"
    live: dict[str, dict] = {}
    meta: dict | None = None
    start_after = -1
    ckpt_version: int | None = None
    ckpt_parts: int | None = None
    last = log_dir / "_last_checkpoint"
    if last.exists():
        pointer = json.loads(last.read_text())
        v = pointer["version"]
        if version is None or v <= version:
            ckpt_version = v
            ckpt_parts = pointer.get("parts")
        else:
            # time travel below _last_checkpoint: use the newest older
            # checkpoint if any, else full JSON replay (all commits kept)
            older = sorted(
                int(p.name.split(".")[0])
                for p in log_dir.glob("*.checkpoint*.parquet")
                if int(p.name.split(".")[0]) <= version
            )
            ckpt_version = older[-1] if older else None
            if ckpt_version is not None:
                n_parts = len(
                    list(
                        log_dir.glob(
                            f"{ckpt_version:020d}.checkpoint.*.parquet"
                        )
                    )
                )
                ckpt_parts = n_parts or None
    if ckpt_version is not None:
        import pyarrow.parquet as pq

        if ckpt_parts:
            # multi-part checkpoint (large foreign tables write the
            # state as N shards): every part must be read; any shard
            # may carry any action type
            part_files = [
                log_dir
                / (
                    f"{ckpt_version:020d}.checkpoint."
                    f"{i + 1:010d}.{ckpt_parts:010d}.parquet"
                )
                for i in range(ckpt_parts)
            ]
        else:
            part_files = [log_dir / f"{ckpt_version:020d}.checkpoint.parquet"]
        for pf in part_files:
            t = pq.read_table(str(pf), columns=["add", "metaData"])
            for add in t.column("add").to_pylist():
                if add is not None and add.get("path"):
                    add = dict(add)
                    add["partitionValues"] = dict(
                        add.get("partitionValues") or []
                    )
                    live[add["path"]] = add
            for md in t.column("metaData").to_pylist():
                if md is not None and md.get("id"):
                    md = dict(md)
                    md["configuration"] = dict(md.get("configuration") or [])
                    meta = md
        start_after = ckpt_version
    replayed: list[int] = []
    earliest_json: int | None = None
    for p in sorted(log_dir.glob("*.json")):
        v = int(p.stem)
        if earliest_json is None or v < earliest_json:
            earliest_json = v
        if v <= start_after:
            continue
        if version is not None and v > version:
            break
        replayed.append(v)
        for line in p.read_text().splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if "add" in action:
                live[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                live.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
    if ckpt_version is None and earliest_json is not None and earliest_json > 0:
        # log retention deleted the head of the JSON chain and no
        # eligible checkpoint covers this version: a "full" replay
        # would silently fabricate a smaller table
        raise ValueError(
            f"cannot replay version {version if version is not None else 'HEAD'}: "
            f"commits below v{earliest_json} were removed by log "
            "retention and no checkpoint at or below the requested "
            "version survives — re-export with a larger "
            "log_retention_versions or read a version at/after the "
            "newest checkpoint"
        )
    return live, ckpt_version, replayed, meta


def replay_txn_high(table_path: str, app_id: str) -> int:
    """Newest SetTransaction version for ``app_id`` from an exported
    ``_delta_log`` — checkpoint txn rows + JSON tail, exactly the read
    an external Delta streaming writer performs to dedup replayed
    micro-batches (PROTOCOL.md §Transaction Identifiers). −1 = never
    committed."""
    import pyarrow.parquet as pq

    log_dir = Path(table_path) / "_delta_log"
    high = -1
    start_after = -1
    lc = log_dir / "_last_checkpoint"
    if lc.exists():
        v = int(json.loads(lc.read_text())["version"])
        for pf in sorted(log_dir.glob(f"{v:020d}.checkpoint*.parquet")):
            t = pq.read_table(str(pf))
            if "txn" not in t.column_names:
                continue
            for row in t.column("txn").to_pylist():
                if row and row.get("appId") == app_id:
                    high = max(high, int(row["version"]))
        start_after = v
    for p in sorted(log_dir.glob("*.json")):
        if int(p.stem) <= start_after:
            continue
        for line in p.read_text().splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            txn = action.get("txn")
            if txn and txn.get("appId") == app_id:
                high = max(high, int(txn["version"]))
    return high


def replay_live_files(table_path: str, version: int | None = None) -> list[str]:
    """Reconstruct the live file set from a ``_delta_log`` by replaying
    add/remove actions up to ``version`` — the core of every Delta
    reader. Starts from the newest eligible parquet checkpoint
    (``_last_checkpoint``) when one exists, replaying only the JSON
    tail after it."""
    live, _, _, _ = _replay_state(table_path, version)
    return sorted(live)


#: Delta partition-value strings → Spark cast targets (PROTOCOL.md
#: §Partition Value Serialization; the types the fixture surface uses)
_PARTITION_CAST_TYPES = {
    "integer": "int",
    "long": "bigint",
    "short": "smallint",
    "byte": "tinyint",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "timestamp": "timestamp",
    "string": "string",
}


def read_delta_log(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """Open a Delta table the way a third-party reader must: replay
    the log (checkpoint-first, multi-part aware) to the live file
    set, scan exactly those parquet files, merge deletion vectors,
    apply column mapping, and RECONSTRUCT PARTITION COLUMNS — Delta
    data files do NOT store partition columns; their values exist
    only in each add's ``partitionValues`` (PROTOCOL.md §Data Files),
    so a reader that just scans the parquet silently loses them."""
    live, _, _, meta = _replay_state(table_path, version)
    if not live:
        # a truncating overwrite (remove-all commit) leaves a valid
        # EMPTY table: replay it as zero rows in the metaData schema,
        # exactly like delta-spark (logical names — schemaString
        # field names are logical under columnMapping)
        if meta and meta.get("schemaString"):
            from pyspark.sql.types import StructType

            return spark.createDataFrame(
                [], StructType.fromJson(json.loads(meta["schemaString"]))
            )
        raise ValueError(f"no live files at version {version}")
    return _frame_for(spark, Path(table_path), live, meta)


def read_delta_log_pruned(
    spark: SparkSession,
    table_path: str,
    preds: dict[str, tuple],
    version: int | None = None,
) -> tuple[DataFrame, int, int]:
    """Plan a pruned scan of a (possibly foreign) Delta table from
    its log ALONE: each predicate ``col: (lo, hi)`` is tested against
    the add actions' ``partitionValues`` (partition pruning) and
    ``stats`` JSON min/max (file skipping) — files outside every
    range are never handed to Spark.  Missing stats keep the file
    (skipping must be safe).  Returns (df, files_kept, files_total) —
    the residual predicate is still applied row-level.

    This is the planner's half of the Delta contract at 100 TB: the
    log carries enough metadata that a reader prunes without touching
    a single data-file footer."""
    from pyspark.sql import functions as F

    live, _, _, meta = _replay_state(table_path, version)
    if not live:
        raise ValueError(f"no live files at version {version}")
    part_types = _partition_types(meta)

    def _bounds(add: dict, col: str):
        pv = add.get("partitionValues") or {}
        if col in pv:
            v = _cast_partition_value(pv[col], part_types.get(col, "string"))
            if v is None:
                return None  # NULL partition: range preds cannot skip it
            return (v, v)
        try:
            st = json.loads(add.get("stats") or "{}")
        except (TypeError, ValueError):
            return None
        lo = (st.get("minValues") or {}).get(col)
        hi = (st.get("maxValues") or {}).get(col)
        if lo is None or hi is None:
            return None
        return (lo, hi)

    kept: dict[str, dict] = {}
    for path, add in live.items():
        keep = True
        for col, (lo, hi) in preds.items():
            b = _bounds(add, col)
            if b is None:
                continue
            blo, bhi = _coerce_bounds(b, lo)
            if bhi < lo or blo > hi:
                keep = False
                break
        if keep:
            kept[path] = add
    if not kept:
        empty = _frame_for(spark, Path(table_path), live, meta).limit(0)
        return empty, 0, len(live)
    df = _frame_for(spark, Path(table_path), kept, meta)
    for col, (lo, hi) in preds.items():
        df = df.where((F.col(col) >= lo) & (F.col(col) <= hi))
    return df, len(kept), len(live)


def _partition_types(meta: dict | None) -> dict[str, str]:
    if not meta:
        return {}
    try:
        fields = json.loads(meta.get("schemaString") or "{}").get("fields", [])
    except (TypeError, ValueError):
        return {}
    types = {
        f["name"]: f["type"] for f in fields if isinstance(f.get("type"), str)
    }
    return {c: types.get(c, "string") for c in meta.get("partitionColumns") or []}


def _cast_partition_value(raw: str | None, delta_type: str):
    if raw is None:
        return None
    if delta_type in ("integer", "long", "short", "byte"):
        return int(raw)
    if delta_type in ("double", "float"):
        return float(raw)
    if delta_type == "boolean":
        return raw == "true"
    return raw  # string/date/timestamp compare lexically below


def _coerce_bounds(bounds: tuple, probe) -> tuple:
    """Stats JSON loses numeric types (json.dumps(default=str) and
    foreign writers both emit strings); coerce file bounds to the
    probe's type before comparing."""
    lo, hi = bounds
    if isinstance(probe, (int, float)) and isinstance(lo, str):
        try:
            return float(lo), float(hi)
        except ValueError:
            return bounds
    return bounds


_DELTA_TO_DDL = {
    "integer": "int",
    "long": "bigint",
    "short": "smallint",
    "byte": "tinyint",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp",
    "timestamp_ntz": "timestamp_ntz",
}


def _ddl_from_schema_string(meta: dict | None) -> str | None:
    """PHYSICAL-name read schema from the schemaString (partition
    columns excluded — Delta data files do not store them). None when
    a field's type is nested/unexpressible (callers fall back to
    mergeSchema inference)."""
    if not meta or not meta.get("schemaString"):
        return None
    try:
        fields = json.loads(meta["schemaString"]).get("fields", [])
    except (TypeError, ValueError):
        return None
    part_cols = set(meta.get("partitionColumns") or [])
    out = []
    for f in fields:
        if f["name"] in part_cols:
            continue
        t = f.get("type")
        if not isinstance(t, str):
            return None
        ddl = _DELTA_TO_DDL.get(t) or (t if t.startswith("decimal(") else None)
        if ddl is None:
            return None
        physical = (f.get("metadata") or {}).get(
            "delta.columnMapping.physicalName", f["name"]
        )
        out.append(f"`{physical}` {ddl}")
    return ", ".join(out) if out else None


def _frame_for(
    spark: SparkSession, root: Path, live: dict[str, dict], meta: dict | None
) -> DataFrame:
    """Materialize a DataFrame for a replayed live-file map: parquet
    scan + DV anti-join + column mapping + partition-column
    reconstruction.

    Under columnMapping mode=name the scan is SCHEMA-DRIVEN, exactly
    like a real Delta reader: only the schemaString's physicalName
    columns are read (a DROPPED column's physical data stays in the
    files but is invisible), and the declared types drive Spark's
    parquet upcast of older vintages (typeWidening: INT32 pages read
    into a BIGINT column). Inference (mergeSchema) is only for tables
    without mapping, where the files ARE the schema."""
    from pyspark.sql import functions as F

    files = sorted(live)
    paths_abs = [str(root / f) for f in files]
    mode_name = bool(
        meta
        and (meta.get("configuration") or {}).get("delta.columnMapping.mode")
        == "name"
    )
    ddl = _ddl_from_schema_string(meta)
    if mode_name and ddl is not None:
        df = spark.read.schema(ddl).parquet(*paths_abs)
    else:
        try:
            df = spark.read.option("mergeSchema", "true").parquet(*paths_abs)
        except Exception:
            # mixed widened vintages without mapping: the declared
            # schema is the only way to reconcile the footers
            if ddl is None:
                raise
            df = spark.read.schema(ddl).parquet(*paths_abs)
    # deletion vectors: decode each live add's inline bitmap and
    # anti-join on (file, row index) — the v2 reader's merge-on-read.
    # Arrow-batched transfer: a python-tuple createDataFrame costs
    # ~10s per 500k positions; pandas+Arrow is ~100x cheaper.
    paths, pos_arrays = [], []
    for add in live.values():
        if add.get("deletionVector"):
            paths.append(str((root / add["path"]).resolve()))
            pos_arrays.append(dv_positions(add["deletionVector"]))
    if paths:
        import numpy as np
        import pandas as pd

        dels = spark.createDataFrame(
            pd.DataFrame(
                {
                    "_ipath": np.repeat(paths, [len(a) for a in pos_arrays]),
                    "_ipos": np.concatenate(pos_arrays).astype("int64")
                    if any(pos_arrays)
                    else np.array([], dtype="int64"),
                }
            )
        )
        df = (
            df.withColumn(
                "_ipath",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
            )
            .withColumn("_ipos", F.col("_metadata.row_index"))
            .join(dels, ["_ipath", "_ipos"], "left_anti")
            .drop("_ipath", "_ipos")
        )
    if meta and (meta.get("configuration") or {}).get("delta.columnMapping.mode") == "name":
        for f in json.loads(meta["schemaString"]).get("fields", []):
            logical = f["name"]
            physical = (f.get("metadata") or {}).get(
                "delta.columnMapping.physicalName", logical
            )
            if physical == logical:
                continue
            if physical in df.columns and logical in df.columns:
                # legacy mixed-vintage layout (files written before
                # physical names were stabilized): coalesce, as native
                df = df.withColumn(
                    logical, F.coalesce(F.col(logical), F.col(physical))
                ).drop(physical)
            elif physical in df.columns:
                df = df.withColumnRenamed(physical, logical)
    # partition-column reconstruction: values live ONLY in the add
    # actions, not in the data files — attach them by joining each
    # row's file path against a broadcast (path → values) map built
    # from the log (metadata-sized: one row per live file)
    part_types = _partition_types(meta)
    missing = [c for c in part_types if c not in df.columns]
    if missing:
        import pandas as pd

        rows = {
            "_ppath": [str((root / p).resolve()) for p in files],
        }
        for c in missing:
            # keep the protocol's string serialization here; the Spark
            # cast below restores the declared type (incl. date/bool)
            rows[c] = [
                (live[p].get("partitionValues") or {}).get(c) for p in files
            ]
        pmap = spark.createDataFrame(
            pd.DataFrame(rows).astype("string")
        )
        for c in missing:
            spark_t = _PARTITION_CAST_TYPES.get(part_types[c], "string")
            pmap = pmap.withColumn(c, F.col(c).cast(spark_t))
        df = (
            df.withColumn(
                "_ppath",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
            )
            .join(F.broadcast(pmap), "_ppath")
            .drop("_ppath")
        )
    # final projection: the table IS its schemaString — anything else
    # a scan surfaced (e.g. a dropped column's physical data on the
    # inference path) is not part of the Delta table
    if meta and meta.get("schemaString"):
        try:
            declared = [
                f["name"]
                for f in json.loads(meta["schemaString"]).get("fields", [])
            ]
        except (TypeError, ValueError):
            declared = []
        have = [c for c in declared if c in df.columns]
        if have:
            df = df.select(*have)
    return df


from lakehouse_test_spark.registry import query  # noqa: E402
from lakehouse_test_spark.session import load_table  # noqa: E402


@query(
    "lakehouse_delta_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM events
    WHERE event_type <> 'purchase'
    GROUP BY event_type
    """,
    tags=("lakehouse", "delta", "events"),
)
def lakehouse_delta_roundtrip(spark: SparkSession, sf_dir: str):
    """Full interop loop: ingest events into a native lakehouse table
    in two commits, DELETE one event type, compact, export the Delta
    protocol log, then aggregate the table as read back THROUGH the
    exported log (replay + scan) — proving an external Delta reader
    would see exactly the committed state.

    Oracle-checkable: the roundtrip must equal the straight batch
    aggregate minus the deleted type, independent of commit slicing.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = tempfile.mkdtemp(prefix="lakehouse_delta_rt_")
    t = LakehouseTable(spark, path)
    try:
        half = e.where(F.col("event_id") % 2 == 0)
        t.append(half, stats_cols=["event_id"])
        t.append(e.where(F.col("event_id") % 2 == 1), stats_cols=["event_id"])
        t.delete_where("event_type = 'purchase'", stats_cols=["event_id"])
        t.compact(stats_cols=["event_id"])
        export_delta_log(spark, t)
        via_delta = read_delta_log(spark, str(t.path))
        return (
            via_delta.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dround(dsum(F.col("value")), 2).alias("total_value"),
            )
            .localCheckpoint()  # materialize before the temp table drops
        )
    finally:
        pass  # temp dir reclaimed by the OS; keep files alive for lazy readers


@query(
    "lakehouse_delta_dv_export",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM events
    WHERE event_id % 5 <> 0 AND event_type <> 'error'
    GROUP BY event_type
    """,
    tags=("lakehouse", "delta", "deletion-vectors", "events"),
)
def lakehouse_delta_dv_export(spark: SparkSession, sf_dir: str):
    """Deletion vectors THROUGH the Delta export: two overlapping DV
    deletes (no file rewritten) export as inline RoaringBitmapArray
    descriptors (reader 3 / writer 7 table features), and the replay —
    scan + bitmap anti-join, a v2 reader's merge-on-read — must equal
    the batch aggregate minus both deleted slices. Previously DV'd
    rows silently reappeared through the export.

    Oracle-checkable: equals the straight filtered aggregate.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = tempfile.mkdtemp(prefix="lakehouse_delta_dv_")
    t = LakehouseTable(spark, path)
    t.append(e)
    t.delete_where_dv("event_id % 5 = 0")
    t.delete_where_dv("event_type = 'error'")  # overlaps the same files
    export_delta_log(spark, t)
    via_delta = read_delta_log(spark, str(t.path))
    return (
        via_delta.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(dsum(F.col("value")), 2).alias("total_value"),
        )
        .localCheckpoint()  # materialize before the temp table drops
    )


@query(
    "lakehouse_delta_column_mapping",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           count(price_usd) AS n_priced,
           CAST(round(sum(CAST(price_usd AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_usd
    FROM (SELECT o_orderstatus, o_totalprice AS price_usd FROM orders) t
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "delta", "schema"),
)
def lakehouse_delta_column_mapping(spark: SparkSession, sf_dir: str):
    """Column-mapping interop loop: append half of orders, RENAME
    o_totalprice → price_usd (metadata-only; physical name stays
    stable), append the other half, export the Delta log — which now
    carries ``delta.columnMapping.mode = name`` + per-field
    physicalName/id and the reader 2 / writer 5 protocol — and
    aggregate the table as read back THROUGH the exported log. The
    replay must surface the LOGICAL schema with both vintages' values
    (count(price_usd) catches the all-NULL mapping bug).

    Oracle-checkable: equals a straight relational rename of orders.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="lakehouse_delta_cm_")
    t = LakehouseTable(spark, path)
    t.append(o.where(F.col("o_orderkey") % 2 == 0))
    t.rename_column("o_totalprice", "price_usd")
    t.append(
        o.where(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
            "o_totalprice", "price_usd"
        )
    )
    export_delta_log(spark, t)
    via_delta = read_delta_log(spark, str(t.path))
    return (
        via_delta.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count("price_usd").alias("n_priced"),
            dround(dsum(F.col("price_usd")), 2).alias("total_usd"),
        )
        .localCheckpoint()  # materialize before the temp table drops
    )


@query(
    "lakehouse_delta_import_foreign",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice < 100000
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "delta", "interop", "import", "orders"),
)
def lakehouse_delta_import_foreign(spark: SparkSession, sf_dir: str):
    """Import a FOREIGN-style Delta table — one whose layout our own
    exporter never produces — and answer a pruned query from its log
    alone.  The fixture is built the way third-party writers build
    tables:

    - hive-partitioned by ``o_orderpriority`` with the partition
      column ABSENT from the data files (its values exist only in
      each add's ``partitionValues`` — the protocol's rule, and the
      thing naive parquet-scanning readers silently lose);
    - per-file numeric ``stats`` JSON (minValues/maxValues on
      ``o_totalprice``) written by the foreign writer, not derived
      from our zone maps;
    - a remove + re-add rewrite in v1 (file-level restatement);
    - a MULTI-PART checkpoint (2 shards + ``_last_checkpoint`` with
      ``parts``) — the large-table layout — followed by a post-
      checkpoint JSON commit that the replay must still apply.

    ``read_delta_log_pruned`` must plan the scan from the log alone:
    partition pruning on ``o_orderpriority`` plus stats skipping on
    ``o_totalprice`` (the query raises if nothing was skipped), then
    reconstruct the partition column for the residual predicate and
    the aggregation.  Hash-gated against the straight SQL answer.
    """
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    root = Path(tempfile.mkdtemp(prefix="delta_foreign_"))
    log_dir = root / "_delta_log"
    log_dir.mkdir(parents=True)

    schema_string = json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "o_orderkey", "type": "long", "nullable": True, "metadata": {}},
                {"name": "o_orderstatus", "type": "string", "nullable": True, "metadata": {}},
                {"name": "o_totalprice", "type": "double", "nullable": True, "metadata": {}},
                {"name": "o_orderpriority", "type": "string", "nullable": True, "metadata": {}},
            ],
        }
    )
    meta_action = {
        "metaData": {
            "id": "foreign-fixture",
            "format": {"provider": "parquet"},
            "schemaString": schema_string,
            "partitionColumns": ["o_orderpriority"],
            "configuration": {},
            "createdTime": 0,
        }
    }

    # foreign writer: one dir per partition, files split on totalprice,
    # partition column NOT in the files, stats from the written rows
    pdf = o.toPandas()
    adds: list[dict] = []
    for prio, grp in pdf.groupby("o_orderpriority"):
        pdir = root / f"o_orderpriority={prio.replace(' ', '%20')}"
        pdir.mkdir(exist_ok=True)
        for tag, part in (
            ("lo", grp[grp["o_totalprice"] < 100000]),
            ("hi", grp[grp["o_totalprice"] >= 100000]),
        ):
            if part.empty:
                continue
            rel = f"o_orderpriority={prio.replace(' ', '%20')}/part-{tag}.parquet"
            data = part.drop(columns=["o_orderpriority"])
            pq.write_table(pa.Table.from_pandas(data, preserve_index=False), str(root / rel))
            adds.append(
                {
                    "path": rel,
                    "partitionValues": {"o_orderpriority": str(prio)},
                    "size": (root / rel).stat().st_size,
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": json.dumps(
                        {
                            "numRecords": int(len(part)),
                            "minValues": {"o_totalprice": float(part["o_totalprice"].min())},
                            "maxValues": {"o_totalprice": float(part["o_totalprice"].max())},
                        }
                    ),
                }
            )

    def _commit(version: int, actions: list[dict]) -> None:
        (log_dir / f"{version:020d}.json").write_text(
            "\n".join(json.dumps(a) for a in actions)
        )

    # v0: protocol + metaData + all but the last TWO adds
    _commit(0, [{"protocol": dict(PROTOCOL)}, meta_action] + [{"add": a} for a in adds[:-2]])
    # v1: remove + re-add of one live file (a rewrite), + next add
    rewrite = adds[0]
    _commit(
        1,
        [
            {"remove": {"path": rewrite["path"], "dataChange": True}},
            {"add": rewrite},
            {"add": adds[-2]},
        ],
    )
    # multi-part checkpoint at v1: state split across 2 shards
    live_now = adds[:-1]
    md = dict(meta_action["metaData"])
    md["format"] = {"provider": "parquet"}
    md["configuration"] = []
    half = len(live_now) // 2
    shards = [live_now[:half], live_now[half:]]
    for i, shard in enumerate(shards):
        rows: list[dict] = []
        if i == 0:
            rows.append({"protocol": dict(PROTOCOL)})
            rows.append({"metaData": md})
        for a in shard:
            aa = dict(a)
            aa["partitionValues"] = list(aa["partitionValues"].items())
            rows.append({"add": aa})
        pq.write_table(
            pa.Table.from_pylist(rows, schema=_checkpoint_schema()),
            str(log_dir / f"{1:020d}.checkpoint.{i + 1:010d}.{len(shards):010d}.parquet"),
        )
    (log_dir / "_last_checkpoint").write_text(
        json.dumps({"version": 1, "size": len(live_now) + 2, "parts": len(shards)})
    )
    # v2: a post-checkpoint append the replay must still pick up
    _commit(2, [{"add": adds[-1]}])

    df, kept, total = read_delta_log_pruned(
        spark,
        str(root),
        {
            "o_orderpriority": ("1-URGENT", "1-URGENT"),
            "o_totalprice": (0.0, 99999.99999),
        },
    )
    if not kept < total:
        raise AssertionError(f"log-only pruning skipped nothing: {kept}/{total}")
    return (
        df.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
        .localCheckpoint()
    )
