"""Iceberg-v2 interop for :class:`LakehouseTable`: render the native
commit history as Apache Iceberg format-version-2 table metadata (and
replay it back) — the sibling of :mod:`plans.delta_export` for the
second table format BASELINE.md names.

The sandbox ships no pyiceberg/iceberg-spark package, so like the
Delta exporter this follows the public spec directly
(iceberg.apache.org/spec/, format version 2):

- ``metadata/v1.metadata.json`` + ``version-hint.text`` (the
  HadoopCatalog layout): format-version 2, table-uuid, schemas with
  Iceberg field-ids, the FULL partition-spec history (native hidden
  partitioning — identity/month/bucket/truncate — maps 1:1 onto
  Iceberg's transform vocabulary; spec evolution bumps spec-id), one
  snapshot per native commit with sequence numbers and operation
  summaries;
- one **manifest list** per snapshot (``snap-*.avro``) listing its
  manifests with added/existing counts and sequence numbers;
- **manifest files** (``*-m*.avro``) holding manifest entries whose
  ``data_file`` struct carries path/format/record_count/size;
  appends carry prior manifests forward (EXISTING status), restates
  start a fresh manifest set (operation ``overwrite`` / ``replace``
  for dataChange=false compactions, exactly Iceberg's REPLACE);
- native deletion-vector commits become **position-delete files**
  (Iceberg v2 ``content=1``: parquet of ``file_path, pos``) in their
  own delete manifests — the spec's row-level delete encoding, which
  is precisely what the native DVs are.

Manifests and manifest lists are real Avro object-container files
written by the minimal spec-subset writer below (deflate-less, null
codec) with the spec's ``field-id`` attributes in the embedded
schemas; ``read_ocf`` round-trips them and the tests replay
manifest-list → manifests → file scan back into DataFrames that must
equal the native snapshot at every version.

Scale: like the Delta export this is O(files) driver-side metadata
work with zero data I/O (delete manifests re-encode the DV parquet,
which is O(deleted rows)); a reader plans from one manifest list per
snapshot instead of replaying a commit log, which is exactly why
Iceberg scales planning to 100k-commit tables.
"""

from __future__ import annotations

import json
import os
import re
import struct
import time
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from lakehouse_test_spark.plans.lakehouse import LakehouseTable
from lakehouse_test_spark.sources.avro_codec import _zigzag_decode, _zigzag_encode

# ---------------------------------------------------------------------------
# minimal Avro datum + object-container-file codec (spec subset:
# records, null-unions, int/long/string/boolean/double/bytes, empty
# structs) — enough for Iceberg manifest schemas, validated by
# roundtrip tests.
# ---------------------------------------------------------------------------

_MAGIC = b"Obj\x01"


def _avro_encode(datum, schema, out: bytearray) -> None:
    if isinstance(schema, list):  # union: branch index, then value
        if datum is None and "null" in schema:
            out += _zigzag_encode(schema.index("null"))
            return
        branch = next(
            i for i, s in enumerate(schema) if s != "null"
        )  # single non-null branch (all we emit)
        out += _zigzag_encode(branch)
        _avro_encode(datum, schema[branch], out)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                _avro_encode(None if datum is None else datum.get(f["name"]), f["type"], out)
            return
        if t == "array":
            items = list(datum or [])
            if items:
                out += _zigzag_encode(len(items))
                for it in items:
                    _avro_encode(it, schema["items"], out)
            out += _zigzag_encode(0)
            return
        raise ValueError(f"unsupported avro complex type {t}")
    if schema in ("int", "long"):
        out += _zigzag_encode(int(datum))
    elif schema == "string":
        raw = str(datum).encode("utf-8")
        out += _zigzag_encode(len(raw)) + raw
    elif schema == "bytes":
        out += _zigzag_encode(len(datum)) + bytes(datum)
    elif schema == "boolean":
        out.append(1 if datum else 0)
    elif schema == "double":
        out += struct.pack("<d", float(datum))
    elif schema == "null":
        pass
    else:
        raise ValueError(f"unsupported avro type {schema}")


def _avro_decode(buf: bytes, pos: int, schema):
    if isinstance(schema, list):
        idx, pos = _zigzag_decode(buf, pos)
        return _avro_decode(buf, pos, schema[idx])
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            rec = {}
            for f in schema["fields"]:
                rec[f["name"]], pos = _avro_decode(buf, pos, f["type"])
            return rec, pos
        if t == "array":
            items = []
            while True:
                n, pos = _zigzag_decode(buf, pos)
                if n == 0:
                    break
                if n < 0:  # spec: negative count is followed by a byte size
                    n = -n
                    _, pos = _zigzag_decode(buf, pos)
                for _ in range(n):
                    it, pos = _avro_decode(buf, pos, schema["items"])
                    items.append(it)
            return items, pos
        raise ValueError(f"unsupported avro complex type {t}")
    if schema in ("int", "long"):
        return _zigzag_decode(buf, pos)
    if schema == "string":
        n, pos = _zigzag_decode(buf, pos)
        return buf[pos : pos + n].decode("utf-8"), pos + n
    if schema == "bytes":
        n, pos = _zigzag_decode(buf, pos)
        return bytes(buf[pos : pos + n]), pos + n
    if schema == "boolean":
        return buf[pos] == 1, pos + 1
    if schema == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if schema == "null":
        return None, pos
    raise ValueError(f"unsupported avro type {schema}")


def write_ocf(path: Path, schema: dict, records: list[dict], meta: dict | None = None) -> None:
    """Write an Avro object container file (null codec, one block)."""
    sync = uuid.uuid5(uuid.NAMESPACE_URL, str(path)).bytes  # deterministic
    header = bytearray(_MAGIC)
    md = {"avro.schema": json.dumps(schema), "avro.codec": "null"}
    md.update(meta or {})
    header += _zigzag_encode(len(md))
    for k, v in md.items():
        kb = k.encode()
        vb = v.encode()
        header += _zigzag_encode(len(kb)) + kb + _zigzag_encode(len(vb)) + vb
    header += _zigzag_encode(0)  # map terminator
    header += sync
    body = bytearray()
    for r in records:
        _avro_encode(r, schema, body)
    out = bytes(header)
    if records:
        out += _zigzag_encode(len(records)) + _zigzag_encode(len(body)) + bytes(body) + sync
    path.write_bytes(out)


def read_ocf(path: Path) -> tuple[dict, dict, list[dict]]:
    """Read an Avro OCF written by :func:`write_ocf` (or any null-codec
    OCF whose schema stays in the supported subset). Returns
    (schema, file-metadata, records)."""
    buf = path.read_bytes()
    if buf[:4] != _MAGIC:
        raise ValueError(f"{path}: not an Avro object container file")
    pos = 4
    md: dict[str, str] = {}
    while True:
        n, pos = _zigzag_decode(buf, pos)
        if n == 0:
            break
        if n < 0:  # spec: negative count is followed by a byte size
            n = -n
            _, pos = _zigzag_decode(buf, pos)
        for _ in range(n):
            kl, pos = _zigzag_decode(buf, pos)
            k = buf[pos : pos + kl].decode()
            pos += kl
            vl, pos = _zigzag_decode(buf, pos)
            md[k] = buf[pos : pos + vl].decode()
            pos += vl
    if md.get("avro.codec", "null") != "null":
        raise ValueError(f"{path}: unsupported codec {md['avro.codec']}")
    sync = buf[pos : pos + 16]
    pos += 16
    schema = json.loads(md["avro.schema"])
    records: list[dict] = []
    while pos < len(buf):
        count, pos = _zigzag_decode(buf, pos)
        size, pos = _zigzag_decode(buf, pos)
        block = buf[pos : pos + size]
        pos += size
        if buf[pos : pos + 16] != sync:
            raise ValueError(f"{path}: sync marker mismatch")
        pos += 16
        bpos = 0
        for _ in range(count):
            rec, bpos = _avro_decode(block, bpos, schema)
            records.append(rec)
    return schema, md, records


# ---------------------------------------------------------------------------
# Iceberg schemas (with spec field-ids) for manifest lists + manifests
# ---------------------------------------------------------------------------


def _f(name, typ, fid, optional=False):
    t = ["null", typ] if optional else typ
    return {"name": name, "type": t, "field-id": fid}


# field_summary (spec: one per partition field of the manifest's
# spec, in spec order) — lets a planner skip WHOLE MANIFESTS from the
# manifest list alone, the metadata tier that matters at 100k-file
# scale. Bounds are Iceberg single-value binary serialization.
FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "field_summary",
    "fields": [
        _f("contains_null", "boolean", 509),
        _f("contains_nan", "boolean", 518, optional=True),
        _f("lower_bound", "bytes", 510, optional=True),
        _f("upper_bound", "bytes", 511, optional=True),
    ],
}

MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        _f("manifest_path", "string", 500),
        _f("manifest_length", "long", 501),
        _f("partition_spec_id", "int", 502),
        _f("content", "int", 517),
        _f("sequence_number", "long", 515),
        _f("min_sequence_number", "long", 516),
        _f("added_snapshot_id", "long", 503),
        _f("added_files_count", "int", 504),
        _f("existing_files_count", "int", 505),
        _f("deleted_files_count", "int", 506),
        _f("added_rows_count", "long", 512),
        _f("existing_rows_count", "long", 513),
        _f("deleted_rows_count", "long", 514),
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": FIELD_SUMMARY_SCHEMA}],
            "field-id": 507,
        },
    ],
}

_EMPTY_PARTITION = {"type": "record", "name": "r102", "fields": []}


def _bounds_field(name: str, fid: int, kid: int, vid: int) -> dict:
    """Iceberg ``map<int, binary>`` bounds field as Avro key/value
    record arrays (the spec's map encoding for manifests)."""
    return {
        "name": name,
        "type": [
            "null",
            {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [_f("key", "int", kid), _f("value", "bytes", vid)],
                },
            },
        ],
        "field-id": fid,
        "default": None,
    }


def data_file_schema(partition_schema: dict | None = None) -> dict:
    """Iceberg ``data_file`` record; the ``partition`` struct's fields
    mirror the manifest's partition spec (spec field-ids 1000+)."""
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            _f("content", "int", 134),
            _f("file_path", "string", 100),
            _f("file_format", "string", 101),
            {
                "name": "partition",
                "type": partition_schema or _EMPTY_PARTITION,
                "field-id": 102,
            },
            _f("record_count", "long", 103),
            _f("file_size_in_bytes", "long", 104),
            # equality-delete files (content=2) list the field ids
            # their rows match on (spec field-id 135); null for data
            # and position-delete files
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
                "default": None,
            },
            # per-file column bounds (spec field-ids 125/128): the
            # file-tier of data skipping for NON-partition columns —
            # an external planner prunes files on any stats column
            # straight from the manifests. Iceberg encodes the
            # map<int, binary> as arrays of key/value records.
            _bounds_field("lower_bounds", 125, 126, 127),
            _bounds_field("upper_bounds", 128, 129, 130),
        ],
    }


def manifest_entry_schema(partition_schema: dict | None = None) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            _f("status", "int", 0),
            _f("snapshot_id", "long", 1, optional=True),
            _f("sequence_number", "long", 3, optional=True),
            _f("file_sequence_number", "long", 4, optional=True),
            {"name": "data_file", "type": data_file_schema(partition_schema), "field-id": 2},
        ],
    }


DATA_FILE_SCHEMA = data_file_schema()
MANIFEST_ENTRY_SCHEMA = manifest_entry_schema()

# manifest-entry status / manifest content codes (spec)
ST_EXISTING, ST_ADDED, ST_DELETED = 0, 1, 2
CONTENT_DATA, CONTENT_DELETES = 0, 1
# data_file.content code for EQUALITY deletes (spec §Delete Files):
# rows match on the `equality_ids` columns and apply to data files
# whose data sequence number is STRICTLY LESS than the delete's
CONTENT_EQ_DELETES = 2

_SPARK_TO_ICEBERG = {
    "long": "long",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _iceberg_schema(spark_schema) -> dict:
    fields = []
    for i, f in enumerate(spark_schema.fields, start=1):
        t = f.dataType.typeName()
        if t == "decimal":
            ice = f"decimal({f.dataType.precision}, {f.dataType.scale})"
        elif t in _SPARK_TO_ICEBERG:
            ice = _SPARK_TO_ICEBERG[t]
        else:
            raise ValueError(f"no Iceberg mapping for Spark type {t} ({f.name})")
        fields.append(
            {"id": i, "name": f.name, "required": False, "type": ice}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


_DDL_TO_ICEBERG = {
    "bigint": "long",
    "int": "int",
    "smallint": "int",
    "tinyint": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
}


def _ice_of_ddl(ddl: str) -> str:
    ddl = ddl.strip().lower()
    if ddl in _DDL_TO_ICEBERG:
        return _DDL_TO_ICEBERG[ddl]
    m = re.match(r"decimal\((\d+),\s*(\d+)\)$", ddl)
    if m:
        return f"decimal({m.group(1)}, {m.group(2)})"
    raise ValueError(f"no Iceberg mapping for DDL {ddl}")


def _schema_history(
    table, commits, ice_schema: dict, head: int | None = None,
    seed: dict | None = None,
):
    """Per-snapshot SCHEMA LINEAGE (spec §Table Metadata: ``schemas``
    list + per-snapshot ``schema-id``): fold each commit's recorded
    physical schema (footer fallback for legacy logs) into the
    schema-as-of-that-version — renames apply only to snapshots AFTER
    their stamped version (an old snapshot shows the name it had
    THEN), declared widenings likewise, and field-ids are stable per
    PHYSICAL column so identity survives both. Returns
    ``(schemas, schema_id_of_version, last_column_id, fold_state)`` —
    ``fold_state`` is the JSON-serializable carry-forward the
    incremental exporter persists (``lakehouse.export-schema-state``)
    so the NEXT call folds only tail commits.

    ``seed`` resumes the fold O(tail): it carries the previous
    export's ``fields_phys``/``id_of_phys`` (from the persisted
    property) plus ``schemas``/``sid_of_version`` (reconstructed from
    the exported metadata — snapshots already record ``schema-id``).
    Valid only under a matching export fingerprint (no retroactive
    rename/drop/widen since). Field-id consistency with the CURRENT
    ``ice_schema`` is verified — a mismatch (e.g. a historical extra
    physical shifted the id sequence) raises ValueError and the
    caller degrades to the full-rewrite path.

    ``head`` is the NATIVE head version (defaults to the last folded
    commit — pass it explicitly on resume, where ``commits`` is only
    the tail and may even be empty on a tag-only re-export).

    Contract notes: DROP COLUMN stays retroactive (dropped physicals
    are excluded from EVERY schema, matching the native reads and the
    name-mapping invisibility rule); metadata stamped before version
    tracking existed applies to all snapshots (the old current-names-
    everywhere behavior)."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable as _LT

    meta = table._read_meta()
    if head is None:
        head = commits[-1].version
    renames = meta.get("column_renames", [])
    stamps = list(meta.get("rename_versions") or [])
    stamps += [-1] * (len(renames) - len(stamps))
    wid = meta.get("widenings") or {}
    wid_vs = meta.get("widening_versions") or {}
    dropped_phys = {d["physical"] for d in meta.get("dropped_columns", [])}

    # stable field-id per PHYSICAL column (current assignment first —
    # manifests/bounds key on these ids)
    phys_map = table._physical_of_logical()
    if seed is not None:
        id_of_phys = {k: int(v) for k, v in seed["id_of_phys"].items()}
        # the exported name mapping keys on ice_schema's ids, so a
        # resumed fold must agree with them exactly
        for f in ice_schema["fields"]:
            phys = phys_map.get(f["name"], f["name"])
            prev_id = id_of_phys.get(phys)
            if prev_id is None:
                if f["id"] in id_of_phys.values():
                    raise ValueError(
                        f"resume id collision for new column {phys!r}"
                    )
                id_of_phys[phys] = f["id"]
            elif prev_id != f["id"]:
                raise ValueError(
                    f"resume id drift for {phys!r}: {prev_id} vs {f['id']}"
                )
    else:
        id_of_phys = {
            phys_map.get(f["name"], f["name"]): f["id"]
            for f in ice_schema["fields"]
        }
    next_id = max(id_of_phys.values(), default=0) + 1

    # an ALTER stamped at (or clamped to) the head applies to the head
    # snapshot too — the current schema must reflect it even when no
    # data commit followed (clone carries source-stamps > its head)
    def _applies(stamp: int, version: int) -> bool:
        return version > min(int(stamp), head - 1)

    def _names_at(version: int) -> dict[str, str]:
        m: dict[str, str] = {}
        for (old, new), sv in zip(renames, stamps):
            if not _applies(sv, version):
                continue
            for k, v in list(m.items()):
                if v == old:
                    m[k] = new
            m.setdefault(old, new)
        return m

    if seed is not None:
        fields_phys = dict(seed["fields_phys"])
        schemas = [dict(s) for s in seed["schemas"]]
        sid_of_version = {int(k): int(v) for k, v in seed["sid_of_version"].items()}
        sid_of_key = {
            tuple((f["id"], f["name"], f["type"]) for f in s["fields"]): s[
                "schema-id"
            ]
            for s in schemas
        }
    else:
        fields_phys = {}  # folded physical ddl, first-seen order
        schemas: list[dict] = []
        sid_of_key: dict[tuple, int] = {}
        sid_of_version: dict[int, int] = {}
    for c in commits:
        sch = c.schema
        if sch is None and c.files:
            sch = {}
            for _lbl, s in table._footer_schema_sources(
                [f if f.startswith("/") else str(table.path / f) for f in c.files]
            ):
                sch.update(s)
        for name, ddl in (sch or {}).items():
            prev = fields_phys.get(name)
            if prev is None:
                fields_phys[name] = ddl
            elif prev != ddl:
                if _LT._widens_to(prev, ddl):
                    fields_phys[name] = ddl
                elif not _LT._widens_to(ddl, prev):
                    raise ValueError(
                        f"irreconcilable vintages for {name}: {prev} vs {ddl}"
                    )
        lop = _names_at(c.version)
        flds = []
        for phys, ddl in fields_phys.items():
            if phys in dropped_phys:
                continue
            target = wid.get(phys)
            if target and _applies(wid_vs.get(phys, -1), c.version) and _LT._widens_to(ddl, target):
                ddl = target
            fid = id_of_phys.get(phys)
            if fid is None:
                fid = id_of_phys[phys] = next_id
                next_id += 1
            flds.append(
                {
                    "id": fid,
                    "name": lop.get(phys, phys),
                    "required": False,
                    "type": _ice_of_ddl(ddl),
                }
            )
        flds.sort(key=lambda f: f["id"])
        key = tuple((f["id"], f["name"], f["type"]) for f in flds)
        sid = sid_of_key.get(key)
        if sid is None:
            sid = sid_of_key[key] = len(schemas)
            schemas.append({"type": "struct", "schema-id": sid, "fields": flds})
        sid_of_version[c.version] = sid
    # persisted carry-forward: ONLY what the exported metadata cannot
    # reconstruct (schemas ride in metadata.json, sid_of_version in
    # snapshots[*].schema-id) — O(columns), not O(commits)
    fold_state = {"fields_phys": fields_phys, "id_of_phys": id_of_phys}
    return schemas, sid_of_version, next_id - 1, fold_state


def _head_schema(table):
    """Spark StructType of the head snapshot WITHOUT touching data
    files: the pinned snapshot's folded schema (drops excluded,
    widenings applied), renames applied on an empty frame — no file
    listing, which a ``snapshot()`` plan pays per LIVE file per
    export call."""
    snap = table.pin()
    if not snap.schema:
        return table.snapshot().schema  # raises the empty-table error
    ddl = ", ".join(f"`{n}` {t}" for n, t in snap.schema.items())
    return table._apply_renames(
        table.spark.createDataFrame([], ddl), snap.meta
    ).schema


def _snapshot_id(version: int) -> int:
    return 1000 + version  # deterministic, monotone


# ---------------------------------------------------------------------------
# partition specs: native hidden partitioning → Iceberg spec vocabulary
#
# The native transforms (identity / month(col) / bucket(N, col) /
# truncate(N, col), plans/lakehouse.py:1291) ARE Iceberg's transform
# vocabulary, so specs map 1:1. Values are re-encoded to Iceberg's
# canonical representations (month → months-since-epoch int, date →
# days-since-epoch int). CAVEAT, documented divergence: the native
# bucket transform hashes with Spark's xxhash64 while canonical
# Iceberg buckets use murmur3_x86_32 — the exported bucket VALUES are
# internally consistent (writer and exported manifests agree, pruning
# through this module's planner is exact) but a third-party engine
# computing its own murmur3 probe would probe a different bucket;
# such engines should treat bucket fields as opaque.
# ---------------------------------------------------------------------------

_AVRO_OF_ICE = {
    "int": "int",
    "long": "long",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "int",  # days since epoch
    "timestamptz": "long",  # micros since epoch
    "timestamp": "long",
}


def translate_spec_fields(items: list[str], ice_schema: dict, first_fid: int) -> list[dict]:
    """Native spec items → Iceberg partition-spec fields (with the
    spec's 1000+ field-ids). Raises on a source column missing from
    the schema or an unrepresentable type."""
    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    by_name = {f["name"]: f for f in ice_schema["fields"]}
    out = []
    fid = first_fid
    for item in items:
        m = LakehouseTable._TRANSFORM_RE.match(item)
        if not m:
            src = by_name[item]
            out.append(
                {"name": item, "transform": "identity", "source-id": src["id"], "field-id": fid}
            )
        else:
            kind, n, col = m.group(1), m.group(2), m.group(3)
            src = by_name[col]
            if kind == "month":
                out.append(
                    {"name": f"{col}_month", "transform": "month", "source-id": src["id"], "field-id": fid}
                )
            elif kind == "bucket":
                out.append(
                    {"name": f"{col}_bucket", "transform": f"bucket[{n}]", "source-id": src["id"], "field-id": fid}
                )
            else:
                out.append(
                    {"name": f"{col}_trunc", "transform": f"truncate[{n}]", "source-id": src["id"], "field-id": fid}
                )
        fid += 1
    return out


def result_type(spec_field: dict, ice_schema: dict) -> str:
    """Iceberg result type of a partition field's transform."""
    t = spec_field["transform"]
    if t == "month" or t.startswith("bucket["):
        return "int"
    src = next(f for f in ice_schema["fields"] if f["id"] == spec_field["source-id"])
    return src["type"]


def partition_avro_schema(spec_fields: list[dict], ice_schema: dict) -> dict:
    fields = []
    for sf in spec_fields:
        rt = result_type(sf, ice_schema)
        if rt not in _AVRO_OF_ICE:
            raise ValueError(f"partition field {sf['name']}: unsupported type {rt}")
        fields.append(
            {"name": sf["name"], "type": ["null", _AVRO_OF_ICE[rt]], "field-id": sf["field-id"]}
        )
    return {"type": "record", "name": "r102", "fields": fields}


def to_iceberg_value(v, rt: str):
    """Native stat value → Iceberg canonical partition value."""
    import datetime as _dt

    if v is None:
        return None
    if rt == "int" and isinstance(v, str):  # native month transform: "yyyy-MM"
        y, mo = v.split("-")
        return (int(y) - 1970) * 12 + int(mo) - 1
    if rt == "date":
        if isinstance(v, _dt.date):
            return (v - _dt.date(1970, 1, 1)).days
        return int(v)
    if rt in ("timestamptz", "timestamp"):
        if isinstance(v, _dt.datetime):
            epoch = _dt.datetime(1970, 1, 1, tzinfo=v.tzinfo)
            return int((v - epoch).total_seconds() * 1_000_000)
        return int(v)
    if rt in ("int", "long"):
        return int(v)
    if rt in ("double", "float"):
        return float(v)
    if rt == "string":
        return str(v)
    if rt == "boolean":
        return bool(v)
    raise ValueError(f"unsupported partition value type {rt}: {v!r}")


def _bound_bytes(v, rt: str) -> bytes:
    """Iceberg single-value binary serialization (spec appendix D)."""
    if rt in ("int", "date"):
        return struct.pack("<i", int(v))
    if rt in ("long", "timestamptz", "timestamp"):
        return struct.pack("<q", int(v))
    if rt == "double":
        return struct.pack("<d", float(v))
    if rt == "float":
        return struct.pack("<f", float(v))
    if rt == "string":
        return str(v).encode("utf-8")
    if rt == "boolean":
        return b"\x01" if v else b"\x00"
    raise ValueError(f"no bound serialization for {rt}")


def _bound_value(b: bytes, rt: str):
    if rt in ("int", "date"):
        return struct.unpack("<i", b)[0]
    if rt in ("long", "timestamptz", "timestamp"):
        return struct.unpack("<q", b)[0]
    if rt == "double":
        return struct.unpack("<d", b)[0]
    if rt == "float":
        return struct.unpack("<f", b)[0]
    if rt == "string":
        return b.decode("utf-8")
    if rt == "boolean":
        return b == b"\x01"
    raise ValueError(f"no bound deserialization for {rt}")


# ---------------------------------------------------------------------------
# export
# ---------------------------------------------------------------------------


def _ice_export_fingerprint(tmeta: dict) -> str:
    """Digest of the metadata inputs that rewrite EXPORTED manifests
    retroactively (renames drive the name mapping, drops the
    invisibility marker, widenings the schema lineage types). A change
    invalidates incremental export; additive schema evolution, new
    partition specs, tags, and plain commits do NOT (they only append
    new metadata objects)."""
    import hashlib

    basis = json.dumps(
        {
            "renames": tmeta.get("column_renames", []),
            "dropped": tmeta.get("dropped_columns", []),
            "widenings": tmeta.get("widenings") or {},
        },
        sort_keys=True,
    )
    return hashlib.md5(basis.encode()).hexdigest()


def _stale_export_names(meta_dir: Path) -> set[str]:
    """File names of a superseded export, recorded for DEFERRED
    deletion by the degrade-to-full-rewrite paths: the previously
    valid export stays on disk (readable by concurrent external
    readers, recoverable after a crash mid-rewrite) until the
    rewrite's metadata.json has atomically replaced the old one."""
    try:
        return {p.name for p in meta_dir.iterdir() if p.is_file()}
    except OSError:
        return set()


def export_iceberg_metadata(
    spark: SparkSession,
    table: LakehouseTable,
    incremental: bool = True,
    expire_keep_last: int | None = None,
    expire_older_than_ms: int | None = None,
    compact_manifests_above: int | None = None,
) -> Path:
    """Write Iceberg v2 table metadata under ``<table>/metadata`` from
    the native commit history. Idempotent; returns the metadata dir.

    Per native commit: appends add a manifest and carry prior ones
    forward; restates (merge/delete/compact) start a fresh manifest
    set (``overwrite``, or ``replace`` when dataChange=false); DV
    commits write position-delete parquet + a delete manifest
    (content=1). One snapshot per commit, so Iceberg time travel by
    snapshot matches native time travel by version.

    INCREMENTAL by default: when the exported metadata's fingerprint
    (``lakehouse.export-fingerprint`` property — renames/drops/
    widenings, the retroactive inputs) matches, only commits past the
    exported head get new manifests/delete files — old manifest .avro
    files are reused byte-identical and the (small) metadata.json is
    rewritten with the extended snapshot list. A rename/drop/widen
    falls back to the full rewrite; additive schema evolution, spec
    evolution, and tags stay incremental (they only append).

    RETENTION (``expire_keep_last`` / ``expire_older_than_ms``,
    Iceberg's expireSnapshots): trims ``snapshots[]``/``snapshot-log``
    to the union of {current, every ref-reachable (tags!), newest N,
    newer-than-ts} and deletes manifest-list/manifest/position-delete
    files under metadata/ referenced ONLY by expired snapshots (after
    the new metadata.json lands — crash-safe). Bounds metadata growth
    on a per-micro-batch export loop; time travel to an expired
    snapshot fails loudly. Never touches native data files."""
    meta_dir = table.path / "metadata"
    tmeta0 = table._read_meta()
    fingerprint = _ice_export_fingerprint(tmeta0)
    resume_md: dict | None = None
    resume_head = -1
    if incremental and meta_dir.exists():
        try:
            md_old = _load_metadata(str(table.path))
            if (
                md_old.get("properties", {}).get("lakehouse.export-fingerprint")
                == fingerprint
                and md_old.get("snapshots")
            ):
                resume_head = max(
                    s["snapshot-id"] for s in md_old["snapshots"]
                ) - 1000
                # head current → still rewrite metadata.json (cheap):
                # TAGS and other ref changes carry no commit, and the
                # exported refs must track them
                resume_md = md_old
        except (OSError, ValueError, KeyError, json.JSONDecodeError):
            resume_md = None
    # Degrade-to-full-rewrite paths DEFER destroying the superseded
    # export: they record its file names here and the purge happens
    # only AFTER the rewrite's metadata.json has landed (atomic
    # replace). The old rmtree-first behavior left a crashed rewrite —
    # or a concurrent external reader — with NO metadata at all, where
    # a valid export had existed moments before (r8 ADVICE). Fresh
    # manifests are uuid-named, so old and new files never collide.
    stale_names: set[str] = set()
    if resume_md is None:
        resume_head = -1
        if meta_dir.exists():
            stale_names = _stale_export_names(meta_dir)
        meta_dir.mkdir(parents=True, exist_ok=True)

    now_ms = int(time.time() * 1000)
    tbl_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, str(table.path)))
    ice_schema = _iceberg_schema(_head_schema(table))

    # ---- partition specs: native spec history → Iceberg spec list.
    # Export spec-id 0 is always the unpartitioned spec (files written
    # before any native spec, restate rewrites, and files lacking a
    # partition tuple land there — scan-safe: a planner never prunes
    # them). Native spec k exports as spec-id k+1; partition field-ids
    # are assigned 1000+ sequentially across specs (fresh ids per
    # spec, always spec-legal).
    native_specs = table._read_meta().get("partition_specs", [])
    export_specs: list[dict] = [{"spec-id": 0, "fields": []}]
    spec_fields: dict[int, list[dict]] = {0: []}
    spec_avro: dict[int, dict | None] = {0: None}
    spec_items: dict[int, list[str]] = {0: []}
    spec_from: list[tuple[int, int]] = []  # (from_version, export spec-id)
    next_fid = 1000
    for ns in native_specs:
        fields = translate_spec_fields(list(ns["cols"]), ice_schema, next_fid)
        next_fid += len(fields)
        sid = int(ns["spec_id"]) + 1
        export_specs.append({"spec-id": sid, "fields": fields})
        spec_fields[sid] = fields
        spec_avro[sid] = partition_avro_schema(fields, ice_schema)
        spec_items[sid] = list(ns["cols"])
        spec_from.append((int(ns["from_version"]), sid))

    def _active_spec(version: int) -> int:
        sid = 0
        for fv, s in spec_from:
            if fv <= version:
                sid = s
        return sid

    snapshots: list[dict] = []
    snapshot_log: list[dict] = []
    # carried forward across commits: (manifest record) per live manifest
    live_data_manifests: list[dict] = []
    live_delete_manifests: list[dict] = []
    parent_id: int | None = None

    def _write_manifest(
        name: str,
        entries: list[dict],
        content: int,
        seq: int,
        snap_id: int,
        spec_id: int = 0,
    ) -> dict:
        p = meta_dir / name
        write_ocf(
            p,
            manifest_entry_schema(spec_avro[spec_id]),
            entries,
            meta={
                "format-version": "2",
                "content": "data" if content == CONTENT_DATA else "deletes",
                "partition-spec-id": str(spec_id),
            },
        )
        added = [e for e in entries if e["status"] == ST_ADDED]
        existing = [e for e in entries if e["status"] == ST_EXISTING]
        # field_summary per spec field (spec order): the manifest-list
        # tier of pruning — a planner skips whole manifests whose
        # bounds miss the predicate without opening them.
        summaries = None
        if spec_fields[spec_id]:
            summaries = []
            for sf in spec_fields[spec_id]:
                rt = result_type(sf, ice_schema)
                vals = [e["data_file"]["partition"].get(sf["name"]) for e in entries]
                nonnull = [v for v in vals if v is not None]
                summaries.append(
                    {
                        "contains_null": any(v is None for v in vals),
                        "contains_nan": False,
                        "lower_bound": _bound_bytes(min(nonnull), rt) if nonnull else None,
                        "upper_bound": _bound_bytes(max(nonnull), rt) if nonnull else None,
                    }
                )
        return {
            "manifest_path": str(p),
            "manifest_length": p.stat().st_size,
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": seq,
            # min over the ENTRIES' data sequence numbers, not the
            # writing snapshot's: a merged/partial-rewrite manifest
            # carries EXISTING entries from older snapshots, and a
            # strict reader scopes delete application by this bound
            "min_sequence_number": (
                # explicit None check: a legitimate entry sequence
                # number of 0 (v1-style) must participate in the min,
                # not be replaced by the writing snapshot's seq
                min(
                    (
                        seq
                        if e.get("sequence_number") is None
                        else e["sequence_number"]
                    )
                    for e in entries
                )
                if entries
                else seq
            ),
            "added_snapshot_id": snap_id,
            "added_files_count": len(added),
            "existing_files_count": len(existing),
            "deleted_files_count": 0,
            "added_rows_count": sum(e["data_file"]["record_count"] for e in added),
            "existing_rows_count": sum(e["data_file"]["record_count"] for e in existing),
            "deleted_rows_count": 0,
            "partitions": summaries,
        }

    def _partition_tuple(commit, rel: str, sid: int) -> tuple[int, dict]:
        """(export spec-id, Iceberg partition tuple) for a data file.
        A file carries a spec-``sid`` tuple only when the commit's
        per-file stats pin EVERY spec item to a single value
        (min==max, exactly what ``append_partitioned`` records);
        otherwise it lands in the unpartitioned spec 0 — never pruned,
        matching ``scan_pruned_hidden``'s keep-when-unknown contract."""
        items = spec_items.get(sid, [])
        if not items:
            return 0, {}
        st = (commit.stats or {}).get(rel, {})
        tup: dict = {}
        for item, sf in zip(items, spec_fields[sid]):
            b = st.get(item)
            if b is None or b[0] != b[1]:
                return 0, {}
            tup[sf["name"]] = to_iceberg_value(b[0], result_type(sf, ice_schema))
        return sid, tup

    field_by_name = {f["name"]: f for f in ice_schema["fields"]}

    def _column_bounds(commit, rel: str) -> tuple[list | None, list | None]:
        """Translate the commit's native zone-map stats for plain
        schema columns into Iceberg per-file bounds (field id →
        single-value binary). Transform-item stats (``month(d)``…)
        and bloom entries stay native-only; files without stats
        export null bounds — readers must keep them (scan-safe)."""
        st = (commit.stats or {}).get(rel) or {}
        lower, upper = [], []
        for cname, b in st.items():
            fld = field_by_name.get(cname)
            if (
                fld is None
                or not isinstance(b, (list, tuple))
                or len(b) != 2
                or b[0] is None
                or b[1] is None
            ):
                continue
            rt = fld["type"]
            try:
                lo = _bound_bytes(to_iceberg_value(b[0], rt), rt)
                hi = _bound_bytes(to_iceberg_value(b[1], rt), rt)
            except (ValueError, TypeError):
                continue
            lower.append({"key": fld["id"], "value": lo})
            upper.append({"key": fld["id"], "value": hi})
        if not lower:
            return None, None
        lower.sort(key=lambda kv: kv["key"])
        upper.sort(key=lambda kv: kv["key"])
        return lower, upper

    def _entry(
        rel: str, commit, snap_id: int, seq: int, content: int, partition: dict
    ) -> dict:
        import pyarrow.parquet as pq

        p = table.path / rel
        # vacuumed files (below the retention horizon) keep their
        # manifest entries with zeroed physical stats: the snapshots
        # referencing them are only reachable by time travel below the
        # horizon, which fails at scan time — the native contract
        exists = p.exists()
        lower, upper = _column_bounds(commit, rel)
        return {
            "status": ST_ADDED,
            "snapshot_id": snap_id,
            "sequence_number": seq,
            "file_sequence_number": seq,
            "data_file": {
                "content": content,
                "file_path": str(p.resolve()),
                "file_format": "PARQUET",
                "partition": partition,
                "record_count": (
                    pq.ParquetFile(str(p)).metadata.num_rows if exists else 0
                ),
                "file_size_in_bytes": p.stat().st_size if exists else 0,
                "lower_bounds": lower,
                "upper_bounds": upper,
            },
        }

    # O(tail) on resume: only commits past the exported head are read
    # at all — a per-micro-batch exporter on a 10⁴-commit table must
    # never re-parse its whole log per call (the schema lineage is
    # likewise resumed below from the exported metadata + the
    # persisted fold state, not re-folded from v0).
    native_head = table.latest_version()
    if resume_md is not None:
        # log-retention window guard (r10 ADVICE): a resume point
        # below the clean_log cutoff means _commits_between would
        # silently drop the reclaimed commits' appends/rewrites from
        # the exported snapshot chain. Raise the recipe — the
        # degrade-to-full paths already raise correctly via history().
        table._check_log_window(resume_head)
    history = (
        table.history()
        if resume_md is None
        else table._commits_between(resume_head, None)
    )
    last_seq = 0
    live_entries: dict[str, tuple[int, dict]] = {}  # file → (spec-id, entry)
    pending_hydration: list[dict] = []  # resumed manifests, entries unread

    def _entry_key(file_path: str) -> str:
        # live_entries keys are what commit.files/removed_files carry:
        # table-relative for native files, absolute for CONVERT/CLONE
        root = str(table.path.resolve())
        return (
            file_path[len(root) + 1 :]
            if file_path.startswith(root + "/")
            else file_path
        )

    if resume_md is not None:
        # reconstruct the carry-forward state from the EXPORTED
        # metadata: the head snapshot's manifest list IS the live
        # manifest set; live entries re-read from those manifests
        # (needed only to re-list survivors on a partial rewrite).
        # Guarded like the fingerprint handshake: manifest-list paths
        # are stored ABSOLUTE, so a copied/moved table (or partially
        # damaged metadata dir) must degrade to the full-rewrite path,
        # not crash the exporter mid-call.
        try:
            snapshots = list(resume_md["snapshots"])
            snapshot_log = list(resume_md.get("snapshot-log", []))
            last = max(snapshots, key=lambda s: s["snapshot-id"])
            parent_id = last["snapshot-id"]
            last_seq = last.get("sequence-number", 0)
            _, _, mlist = read_ocf(Path(last["manifest-list"]))
            live_data_manifests = [
                m
                for m in mlist
                if m.get("content", CONTENT_DATA) == CONTENT_DATA
            ]
            live_delete_manifests = [
                m for m in mlist if m.get("content") == CONTENT_DELETES
            ]
            # entry hydration is LAZY (see _ensure_entries): reading
            # every live manifest's entries back is O(live manifests)
            # per call, and only a partial rewrite (compact_files) in
            # the tail actually needs them — an append-only
            # per-micro-batch export must stay O(tail)
            pending_hydration = list(live_data_manifests)
        except (OSError, KeyError, ValueError, IndexError, struct.error):
            # full rewrite: reset every carry-forward variable and
            # clear the stale export (nothing has been written yet —
            # manifests land only in the commit loop below).
            # IndexError/struct.error: a TRUNCATED manifest (crash
            # mid-export) still passes the Avro magic check and then
            # runs the varint/double decoders off the buffer end —
            # exactly the partial damage this guard must degrade on.
            resume_md, resume_head = None, -1
            snapshots, snapshot_log = [], []
            live_data_manifests, live_delete_manifests = [], []
            parent_id, last_seq, live_entries = None, 0, {}
            pending_hydration = []
            history = table.history()
            stale_names |= _stale_export_names(meta_dir)

    # ---- per-snapshot schema lineage (spec: ``schemas`` + snapshot
    # ``schema-id``). On resume the fold CONTINUES from the exported
    # metadata + the persisted fold state (O(tail) — the r7 exporter
    # re-folded the full log's JSON every call); a missing state
    # property (pre-r8 export) pays one full fold and persists it; an
    # id-consistency failure degrades to full-history. Legacy logs
    # with unmappable footer types fall back to current-schema-only.
    seed = None
    if resume_md is not None:
        try:
            raw = resume_md.get("properties", {}).get(
                "lakehouse.export-schema-state"
            )
            if raw:
                st = json.loads(raw)
                seed = {
                    "fields_phys": st["fields_phys"],
                    "id_of_phys": st["id_of_phys"],
                    "schemas": resume_md["schemas"],
                    "sid_of_version": {
                        s["snapshot-id"] - 1000: s.get("schema-id", 0)
                        for s in resume_md["snapshots"]
                    },
                }
        except (KeyError, ValueError, json.JSONDecodeError):
            seed = None
    fold_state = None
    if seed is not None:
        try:
            schemas_hist, sid_of_version, last_col_id, fold_state = (
                _schema_history(
                    table, history, ice_schema, head=native_head, seed=seed
                )
            )
        except (ValueError, OSError):
            # id drift: the resumed manifests embed the OLD field ids,
            # so the whole resume is stale — degrade to full rewrite
            seed = None
            resume_md, resume_head = None, -1
            snapshots, snapshot_log = [], []
            live_data_manifests, live_delete_manifests = [], []
            parent_id, last_seq, live_entries = None, 0, {}
            pending_hydration = []
            stale_names |= _stale_export_names(meta_dir)
            history = table.history()
    if seed is None:
        try:
            full = history if resume_md is None else table.history()
            schemas_hist, sid_of_version, last_col_id, fold_state = (
                _schema_history(table, full, ice_schema, head=native_head)
            )
        except (ValueError, OSError):
            schemas_hist, sid_of_version, last_col_id = (
                [ice_schema],
                {},
                len(ice_schema["fields"]),
            )

    def _ensure_entries() -> None:
        """Hydrate live_entries from the RESUMED manifests on first
        need (a partial rewrite re-lists survivors). In-call entries
        (tail appends) win on key collision — they are newer."""
        nonlocal pending_hydration
        for m in pending_hydration:
            _, _, es = read_ocf(Path(m["manifest_path"]))
            for e in es:
                if e["status"] == ST_DELETED:
                    continue
                live_entries.setdefault(
                    _entry_key(e["data_file"]["file_path"]),
                    (m.get("partition_spec_id", 0), e),
                )
        pending_hydration = []

    def _manifests_by_spec(
        tagged: list[tuple[int, dict]], seq: int, snap_id: int
    ) -> list[dict]:
        """One manifest per partition spec (Iceberg manifests are
        single-spec); entries keep their original tuples."""
        by_spec: dict[int, list[dict]] = {}
        for sid, e in tagged:
            by_spec.setdefault(sid, []).append(e)
        return [
            _write_manifest(
                f"{uuid.uuid4().hex}-m{sid}.avro", es, CONTENT_DATA, seq, snap_id, sid
            )
            for sid, es in sorted(by_spec.items())
        ]

    for commit in history:
        snap_id = _snapshot_id(commit.version)
        seq = commit.version + 1
        last_seq = seq
        if commit.restate:
            live_data_manifests = []
            live_delete_manifests = []
            live_entries = {}
            pending_hydration = []  # superseded wholesale
            operation = "replace" if not commit.data_change else "overwrite"
        elif commit.removed_files:
            # partial rewrite (compact_files): Iceberg's RewriteManifests
            # shape — fresh manifests re-list the SURVIVING prior
            # entries, replaced files simply stop being referenced
            _ensure_entries()
            operation = "replace"
            for f in commit.removed_files:
                live_entries.pop(f, None)
            live_data_manifests = _manifests_by_spec(
                [live_entries[f] for f in sorted(live_entries)], seq, snap_id
            )
        elif commit.dv_files:
            operation = "delete"
        else:
            operation = "append"
        if commit.files:
            active = _active_spec(commit.version)
            tagged: list[tuple[int, dict]] = []
            for f in commit.files:
                sid, tup = _partition_tuple(commit, f, active)
                e = _entry(f, commit, snap_id, seq, CONTENT_DATA, tup)
                tagged.append((sid, e))
                live_entries[f] = (sid, e)
            live_data_manifests = live_data_manifests + _manifests_by_spec(
                tagged, seq, snap_id
            )
        if commit.dv_files:
            # Iceberg v2 position deletes: parquet of (file_path, pos)
            # sorted by file then position, referenced by a content=1
            # manifest. The native DV parquet is already exactly this
            # modulo column names and path normalization.
            import pyarrow.parquet as pq

            from urllib.parse import urlparse

            del_entries = []
            for i, dvf in enumerate(commit.dv_files):
                if not (table.path / dvf).exists():
                    continue  # vacuumed DV below the horizon
                t = pq.read_table(str(table.path / dvf))
                if t.num_rows == 0:
                    continue
                # normalize per DISTINCT path, not per row: resolve()
                # costs ~100µs and DVs hold O(deleted rows) rows
                norm: dict[str, str] = {}

                def _np(p: str) -> str:
                    r = norm.get(p)
                    if r is None:
                        r = norm[p] = str(
                            Path(
                                urlparse(p).path if p.startswith("file:") else p
                            ).resolve()
                        )
                    return r

                paths = [_np(str(p)) for p in t.column("_dv_file").to_pylist()]
                import pyarrow as pa

                dt = pa.table(
                    {
                        "file_path": pa.array(paths, type=pa.string()),
                        "pos": t.column("_dv_pos").cast(pa.int64()),
                    }
                ).sort_by([("file_path", "ascending"), ("pos", "ascending")])
                dp = meta_dir / f"delete-{snap_id}-{i}.parquet"
                pq.write_table(dt, str(dp))
                del_entries.append(
                    {
                        "status": ST_ADDED,
                        "snapshot_id": snap_id,
                        "sequence_number": seq,
                        "file_sequence_number": seq,
                        "data_file": {
                            "content": CONTENT_DELETES,
                            "file_path": str(dp.resolve()),
                            "file_format": "PARQUET",
                            "partition": {},
                            "record_count": dt.num_rows,
                            "file_size_in_bytes": dp.stat().st_size,
                        },
                    }
                )
            m = _write_manifest(
                f"{uuid.uuid4().hex}-m1.avro", del_entries, CONTENT_DELETES, seq, snap_id
            )
            live_delete_manifests = live_delete_manifests + [m]
        list_name = f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro"
        write_ocf(
            meta_dir / list_name,
            MANIFEST_FILE_SCHEMA,
            live_data_manifests + live_delete_manifests,
            meta={"format-version": "2"},
        )
        snap = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms + commit.version,
            "manifest-list": str((meta_dir / list_name).resolve()),
            "schema-id": sid_of_version.get(commit.version, 0),
            "summary": {"operation": operation},
        }
        if parent_id is not None:
            snap["parent-snapshot-id"] = parent_id
        parent_id = snap_id
        snapshots.append(snap)
        snapshot_log.append(
            {"timestamp-ms": snap["timestamp-ms"], "snapshot-id": snap_id}
        )

    # ---- manifest compaction (Iceberg rewrite_manifests analog) ----
    # A per-micro-batch export accretes one manifest per commit, all
    # carried forward by the head snapshot — expiration bounds the
    # SNAPSHOT metadata but not this population. When the head's data-
    # manifest count exceeds the threshold, merge every live data
    # entry into one manifest per partition spec (entries verbatim:
    # status EXISTING, original snapshot_id and per-entry sequence
    # numbers preserved — our entries are always explicit, never
    # inheritance-dependent) and rewrite ONLY the head's manifest
    # list. Older snapshots keep referencing the original manifests
    # (time travel untouched); the superseded head list is purged
    # after the new metadata lands. Cost when triggered: O(live
    # entries) — amortized by the threshold; zero when below it.
    if compact_manifests_above is not None and compact_manifests_above < 1:
        raise ValueError(
            f"compact_manifests_above must be >= 1, got "
            f"{compact_manifests_above}"
        )
    compacted_orphans: set[str] = set()
    if (
        compact_manifests_above is not None
        and snapshots
        and len(live_data_manifests) + len(live_delete_manifests)
        > compact_manifests_above
    ):
        _ensure_entries()
        head_snap = snapshots[-1]
        head_seq = head_snap.get("sequence-number", last_seq)
        merged: list[tuple[int, dict]] = []
        for key in sorted(live_entries):
            sid, e = live_entries[key]
            e2 = dict(e)
            e2["status"] = ST_EXISTING
            merged.append((sid, e2))
        pre_compaction = live_data_manifests + live_delete_manifests
        live_data_manifests = _manifests_by_spec(
            merged, head_seq, head_snap["snapshot-id"]
        )
        # DELETE manifests merge too (a CDC-heavy table accretes one
        # per DV commit): entries verbatim with their explicit
        # per-entry sequence numbers — delete application scopes by
        # ENTRY seq, so a merged container changes nothing a reader
        # sees; min_sequence_number recomputes over the entries
        if len(live_delete_manifests) > 1:
            del_entries: list[dict] = []
            for m in live_delete_manifests:
                _, _, es = read_ocf(Path(m["manifest_path"]))
                for e in es:
                    if e["status"] == ST_DELETED:
                        continue
                    e2 = dict(e)
                    e2["status"] = ST_EXISTING
                    del_entries.append(e2)
            live_delete_manifests = [
                _write_manifest(
                    f"{uuid.uuid4().hex}-m1.avro",
                    del_entries,
                    CONTENT_DELETES,
                    head_seq,
                    head_snap["snapshot-id"],
                )
            ]
        list_name = (
            f"snap-{head_snap['snapshot-id']}-1-{uuid.uuid4().hex}.avro"
        )
        write_ocf(
            meta_dir / list_name,
            MANIFEST_FILE_SCHEMA,
            live_data_manifests + live_delete_manifests,
            meta={"format-version": "2"},
        )
        compacted_orphans.add(head_snap["manifest-list"])
        # manifests ADDED BY the head commit itself were referenced
        # only by the head's pre-compaction list (no later snapshot
        # exists, earlier ones predate them) — the merged manifests
        # absorbed their entries, so they orphan NOW; every other
        # pre-compaction manifest stays referenced by older
        # snapshots' lists and is reclaimed by expiration when they
        # expire (leak measured: one file per compaction cycle)
        still_referenced = {
            m["manifest_path"]
            for m in live_data_manifests + live_delete_manifests
        }
        compacted_orphans.update(
            m["manifest_path"]
            for m in pre_compaction
            if m.get("added_snapshot_id") == head_snap["snapshot-id"]
            and m["manifest_path"] not in still_referenced
        )
        head_snap["manifest-list"] = str((meta_dir / list_name).resolve())

    # name mapping (spec §Name Mapping Serialization): data files carry
    # STABLE PHYSICAL column names and no embedded field-ids, so a
    # reader resolves fields through this mapping — the spec's designed
    # mechanism for exactly that file population. Renamed columns list
    # both names (logical first).
    phys_map = table._physical_of_logical()
    name_mapping = [
        {
            "field-id": f["id"],
            "names": (
                [f["name"], phys_map[f["name"]]]
                if f["name"] in phys_map
                else [f["name"]]
            ),
        }
        for f in ice_schema["fields"]
    ]
    # native tags are Iceberg tag refs (immutable named snapshots)
    refs: dict = {"main": {"snapshot-id": parent_id, "type": "branch"}}
    for tag_name, tag_version in table.tags().items():
        refs[tag_name] = {"snapshot-id": _snapshot_id(tag_version), "type": "tag"}

    # ---- snapshot expiration (Iceberg expireSnapshots analog) ----
    # Without a retention knob the incremental exporter appends to
    # snapshots[]/snapshot-log FOREVER — metadata.json and the
    # manifest population grow O(total commits) even though the
    # native side bounds its own log with vacuum/retention. The keep
    # set is the union of: the current snapshot, every REF-reachable
    # snapshot (tags never silently lose their target — Iceberg's
    # rule), the newest ``expire_keep_last``, and anything newer than
    # ``expire_older_than_ms``. Expired snapshots leave the metadata
    # now; their exclusively-referenced manifest-list/manifest/
    # position-delete files under meta_dir are purged AFTER the new
    # metadata.json lands (same crash-safety rule as stale_names —
    # a reader never observes missing files behind a live metadata).
    # Native DATA files are never touched: vacuum owns those.
    expired_snaps: list[dict] = []
    if expire_keep_last is not None or expire_older_than_ms is not None:
        if expire_keep_last is not None and expire_keep_last < 1:
            raise ValueError(
                f"expire_keep_last must be >= 1, got {expire_keep_last}"
            )
        keep_ids = {parent_id}
        for r in refs.values():
            if r.get("snapshot-id") is not None:
                keep_ids.add(r["snapshot-id"])
        ordered = sorted(snapshots, key=lambda s: s["snapshot-id"])
        if expire_keep_last is not None:
            keep_ids.update(
                s["snapshot-id"] for s in ordered[-expire_keep_last:]
            )
        if expire_older_than_ms is not None:
            keep_ids.update(
                s["snapshot-id"]
                for s in ordered
                if s["timestamp-ms"] >= expire_older_than_ms
            )
        expired_snaps = [
            s for s in snapshots if s["snapshot-id"] not in keep_ids
        ]
        if expired_snaps:
            snapshots = [
                s for s in snapshots if s["snapshot-id"] in keep_ids
            ]
            kept_ids = {s["snapshot-id"] for s in snapshots}
            snapshot_log = [
                e for e in snapshot_log if e["snapshot-id"] in kept_ids
            ]

    metadata = {
        "format-version": 2,
        "table-uuid": tbl_uuid,
        "location": str(table.path.resolve()),
        "last-sequence-number": last_seq,
        "last-updated-ms": now_ms,
        "last-column-id": last_col_id,
        # by the NATIVE head (not history[-1] — on a tag-only resume
        # the commit tail is empty)
        "current-schema-id": sid_of_version.get(table.latest_version(), 0),
        "schemas": schemas_hist,
        "default-spec-id": export_specs[-1]["spec-id"],
        "partition-specs": export_specs,
        "last-partition-id": next_fid - 1 if next_fid > 1000 else 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {
            # incremental-export handshake (see _ice_export_fingerprint)
            "lakehouse.export-fingerprint": fingerprint,
            # schema-fold carry-forward (O(columns)): lets the NEXT
            # incremental call resume the schema lineage from the
            # exported metadata instead of re-folding the full log —
            # absent on the current-schema-only legacy fallback, whose
            # lineage is not resumable
            **(
                {"lakehouse.export-schema-state": json.dumps(fold_state)}
                if fold_state is not None
                else {}
            ),
            "schema.name-mapping.default": json.dumps(name_mapping),
            # dropped columns' physical names (stale data retained in
            # files, invisible to readers): our files carry no
            # field-ids, so without this marker a dropped-then-readded
            # name would be ambiguous under name mapping alone
            **(
                {
                    "lakehouse.dropped-physical-names": json.dumps(
                        sorted(
                            {
                                d["physical"]
                                for d in table._read_meta().get(
                                    "dropped_columns", []
                                )
                            }
                        )
                    )
                }
                if table._read_meta().get("dropped_columns")
                else {}
            ),
        },
        "current-snapshot-id": parent_id,
        "refs": refs,
        "snapshots": snapshots,
        "snapshot-log": snapshot_log,
        "metadata-log": [],
    }
    # Files exclusively referenced by EXPIRED snapshots: walk the
    # surviving manifest-lists for the referenced set (O(kept
    # snapshots), bounded by the retention knob), the expired ones
    # for candidates, and — only when a DELETE manifest dies — its
    # entries for the position-delete parquets it owned. Everything
    # purged must live under meta_dir (native data files are listed
    # in DATA manifests but are the table's own storage).
    expired_files: set[str] = set()
    if expired_snaps:

        class _KeptWalkError(Exception):
            """A KEPT snapshot's metadata failed to read mid-purge."""

        def _walk_lists(
            snaps: list[dict], strict: bool = False
        ) -> tuple[set[str], set[str]]:
            paths: set[str] = set()
            del_manifests: set[str] = set()
            for s in snaps:
                paths.add(s["manifest-list"])
                try:
                    _, _, ms = read_ocf(Path(s["manifest-list"]))
                except (OSError, ValueError, struct.error, IndexError) as exc:
                    # tolerable ONLY on the expired-candidate side: a
                    # read failure on a KEPT snapshot's manifest-list
                    # drops its manifests from the referenced set, so
                    # shared manifests would be purged and time travel
                    # to a RETAINED snapshot broken (r9 ADVICE)
                    if strict:
                        raise _KeptWalkError(s["manifest-list"]) from exc
                    continue
                for m in ms:
                    paths.add(m["manifest_path"])
                    if m.get("content") == CONTENT_DELETES:
                        del_manifests.add(m["manifest_path"])
            return paths, del_manifests

        def _delete_parquets(
            manifest_paths: set[str], strict: bool = False
        ) -> set[str]:
            out: set[str] = set()
            for mp in manifest_paths:
                try:
                    _, _, es = read_ocf(Path(mp))
                except (OSError, ValueError, struct.error, IndexError) as exc:
                    if strict:  # same kept-side rule as _walk_lists
                        raise _KeptWalkError(mp) from exc
                    continue
                for e in es:
                    df = e.get("data_file") or {}
                    if df.get("content") in (CONTENT_DELETES, CONTENT_EQ_DELETES):
                        out.add(df["file_path"])
            return out

        try:
            referenced, ref_dels = _walk_lists(snapshots, strict=True)
            candidates, cand_dels = _walk_lists(expired_snaps)
            dying_dels = cand_dels - referenced
            if dying_dels:
                expired_files |= _delete_parquets(
                    dying_dels
                ) - _delete_parquets(ref_dels, strict=True)
            expired_files |= candidates - referenced
            md_resolved = meta_dir.resolve()
            expired_files = {
                f
                for f in expired_files
                if Path(f).parent.resolve() == md_resolved
            }
        except _KeptWalkError:
            # the referenced set is incomplete → purging against it
            # could unlink files a LIVE snapshot still needs. Skip the
            # purge entirely: the metadata replace below still lands
            # (expiration semantics intact), and the unreclaimed files
            # are exactly what iceberg_remove_orphans sweeps later.
            expired_files = set()

    # land the new metadata ATOMICALLY, then purge the superseded
    # export's files (deferred from the degrade paths above) and the
    # expired snapshots' files: a crash at any point leaves a
    # parseable export — either the old one (plus orphaned new
    # manifests) or the new one (plus not-yet-purged old files),
    # never a missing/truncated metadata.json
    tmp = meta_dir / f".v1.metadata.json.{uuid.uuid4().hex}.tmp"
    tmp.write_text(json.dumps(metadata, indent=2))
    os.replace(tmp, meta_dir / "v1.metadata.json")
    (meta_dir / "version-hint.text").write_text("1")
    for name in stale_names - {"v1.metadata.json", "version-hint.text"}:
        try:
            (meta_dir / name).unlink()
        except OSError:
            pass
    for f in expired_files | compacted_orphans:
        try:
            Path(f).unlink()
        except OSError:
            pass
    return meta_dir


# ---------------------------------------------------------------------------
# read (replay) side — what an Iceberg reader does from the metadata
# ---------------------------------------------------------------------------


def _load_metadata(table_path: str) -> dict:
    meta_dir = Path(table_path) / "metadata"
    hint = (meta_dir / "version-hint.text").read_text().strip()
    return json.loads((meta_dir / f"v{hint}.metadata.json").read_text())


def _find_snapshot(md: dict, sid: int) -> dict:
    """Loud snapshot lookup: a missing id used to surface as a bare
    StopIteration; after snapshot EXPIRATION a time travel to an
    expired id must fail with the recipe instead."""
    for s in md["snapshots"]:
        if s["snapshot-id"] == sid:
            return s
    have = sorted(s["snapshot-id"] for s in md["snapshots"])
    raise ValueError(
        f"snapshot {sid} not in the exported metadata (expired by "
        f"expire_keep_last/expire_older_than_ms, or never exported); "
        f"available: {have[:3]}..{have[-3:]} — re-export without "
        "expiration or time-travel the NATIVE table"
    )


def iceberg_remove_orphans(
    table_path: str, older_than_s: float = 3600.0
) -> list[str]:
    """Iceberg's removeOrphanFiles, export-side: delete files under
    ``metadata/`` referenced by NO snapshot of the current
    metadata.json — the residue a crash between the atomic metadata
    replace and the deferred purge can leave behind (expire/compact
    purge AFTER the new metadata lands, so a crash in between orphans
    the superseded files with nothing left referencing them).

    Safety rails, exactly Iceberg's: only files OLDER than
    ``older_than_s`` are deleted (an export running concurrently
    writes its new manifests BEFORE repointing metadata.json — age
    keeps in-flight files safe), and ``v1.metadata.json`` /
    ``version-hint.text`` are always kept. Never touches anything
    outside ``metadata/``. Returns the deleted paths."""
    import time as _time

    meta_dir = Path(table_path) / "metadata"
    md = _load_metadata(table_path)
    referenced: set[str] = set()
    for s in md.get("snapshots", []):
        mlp = Path(s["manifest-list"])
        referenced.add(mlp.name)
        try:
            _, _, ms = read_ocf(mlp)
        except (OSError, ValueError, struct.error):
            continue
        for m in ms:
            referenced.add(Path(m["manifest_path"]).name)
            try:
                _, _, es = read_ocf(Path(m["manifest_path"]))
            except (OSError, ValueError, struct.error):
                continue
            for e in es:
                df = e.get("data_file") or {}
                if df.get("content") in (CONTENT_DELETES, CONTENT_EQ_DELETES):
                    referenced.add(Path(df["file_path"]).name)
    keep = referenced | {"v1.metadata.json", "version-hint.text"}
    now = _time.time()
    deleted: list[str] = []
    for f in meta_dir.iterdir():
        if not f.is_file() or f.name in keep:
            continue
        try:
            if now - f.stat().st_mtime < older_than_s:
                continue
            f.unlink()
            deleted.append(str(f))
        except OSError:
            continue
    return sorted(deleted)


def iceberg_plan_files(
    table_path: str, snapshot_id: int | None = None
) -> tuple[list[str], list[str]]:
    """Plan a scan the Iceberg way: metadata → snapshot → manifest
    list → manifests → (data files, position-delete files)."""
    md = _load_metadata(table_path)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = _find_snapshot(md, sid)
    _, _, manifests = read_ocf(Path(snap["manifest-list"]))
    data_files: list[str] = []
    delete_files: list[str] = []
    for m in manifests:
        _, _, entries = read_ocf(Path(m["manifest_path"]))
        for e in entries:
            if e["status"] == ST_DELETED:
                continue
            df = e["data_file"]
            if df.get("content") == CONTENT_EQ_DELETES:
                # equality deletes need sequence-number scoping —
                # callers of this (path, path) planner can't apply
                # them; read_iceberg/iceberg_plan_entries handle them
                continue
            if df["content"] == CONTENT_DELETES:
                delete_files.append(df["file_path"])
            else:
                data_files.append(df["file_path"])
    return data_files, delete_files


def _apply_position_deletes(
    spark: SparkSession, df: DataFrame, delete_files: list[str]
) -> DataFrame:
    from pyspark.sql import functions as F

    if not delete_files:
        return df
    dels = spark.read.parquet(*delete_files)
    return (
        df.withColumn(
            "_ipath", F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
        )
        .withColumn("_ipos", F.col("_metadata.row_index"))
        .join(
            dels.withColumnRenamed("file_path", "_ipath").withColumnRenamed(
                "pos", "_ipos"
            ),
            ["_ipath", "_ipos"],
            "left_anti",
        )
        .drop("_ipath", "_ipos")
    )


_ICE_TO_DDL = {
    "long": "bigint",
    "int": "int",
    "double": "double",
    "float": "float",
    "string": "string",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
}


def _schema_by_id(md: dict, schema_id: int | None = None) -> dict:
    """The metadata's schema with ``schema_id`` (None = current) —
    per-snapshot resolution target for time-traveled reads."""
    sid = md.get("current-schema-id", 0) if schema_id is None else schema_id
    return next(
        (s for s in md.get("schemas", []) if s.get("schema-id") == sid),
        md.get("schema"),
    ) or {}


def _current_types(md: dict, schema_id: int | None = None) -> dict[str, str]:
    """Schema column name → Spark DDL type (current by default)."""
    schema = _schema_by_id(md, schema_id)
    out = {}
    for f in (schema or {}).get("fields", []):
        t = f["type"]
        out[f["name"]] = _ICE_TO_DDL.get(t) or (
            t.replace(" ", "") if t.startswith("decimal(") else None
        )
    return out


def _scan_name_mapped(
    spark: SparkSession,
    files: list[str],
    md: dict,
    schema_id: int | None = None,
) -> DataFrame:
    """Scan id-less data files the way an Iceberg reader resolves
    them: through ``schema.name-mapping.default``, with the CURRENT
    schema's types driving the read (spec type PROMOTION — old INT32
    vintages read into a widened LONG column at scan), and footer
    columns matching NO mapping entry IGNORED (the spec's rule; this
    is what keeps a dropped-then-re-added column's stale physical
    data invisible — the re-add's mapping lists only its fresh
    physical name, and ``lakehouse.dropped-physical-names`` marks the
    orphan). Files group by footer vintage; each vintage reads with
    an explicit schema and the branches union by name (schema
    evolution null-fills)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakehouse_test_spark.plans.lakehouse import LakehouseTable

    props = md.get("properties") or {}
    nm = json.loads(props.get("schema.name-mapping.default", "[]"))
    dropped = set(json.loads(props.get("lakehouse.dropped-physical-names", "[]")))
    ctypes = _current_types(md, schema_id)
    # the chosen snapshot schema's name per field-id: a time-traveled
    # read resolves a renamed column to the name it had THEN (the
    # mapping's field-id is the bridge; names[0] is only the CURRENT
    # alias)
    name_of_id = {
        f["id"]: f["name"] for f in _schema_by_id(md, schema_id).get("fields", [])
    }
    # physical file-column → logical resolution. The PHYSICAL name
    # (names[-1]) always resolves; the logical alias (names[0]) also
    # resolves for pre-stable-physical vintages — unless it is a
    # dropped physical (stale data, never readable).
    resolve: dict[str, str] = {}
    for entry in nm:
        names = entry.get("names") or []
        if not names:
            continue
        target = name_of_id.get(entry.get("field-id"), names[0])
        resolve[names[-1]] = target
        if names[0] not in dropped:
            resolve.setdefault(names[0], target)

    groups: dict[tuple, list[str]] = {}
    for p in files:
        sch = pq.ParquetFile(p).schema_arrow
        kept = []
        for fld in sch:
            logical = resolve.get(fld.name)
            if logical is None:
                continue  # unmapped → invisible (spec rule)
            footer_ddl = LakehouseTable._pa_ddl(fld.type)
            cur = ctypes.get(logical)
            ddl = (
                cur
                if cur and LakehouseTable._widens_to(footer_ddl, cur)
                else footer_ddl
            )
            kept.append((fld.name, ddl))
        groups.setdefault(tuple(kept), []).append(p)

    branches = []
    for sig, fs in groups.items():
        ddl = ", ".join(f"`{n}` {t}" for n, t in sig)
        b = (
            spark.read.schema(ddl)
            .parquet(*fs)
            .withColumn(
                "_ipath",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
            )
            .withColumn("_ipos", F.col("_metadata.row_index"))
        )
        branches.append(_apply_name_mapping(b, md, schema_id))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


def _apply_name_mapping(
    df: DataFrame, md: dict, schema_id: int | None = None
) -> DataFrame:
    """Resolve physical file columns to the schema's logical names via
    ``schema.name-mapping.default`` (what an Iceberg reader does for
    files without embedded field-ids). With ``schema_id``, the
    resolution target is that snapshot's contemporaneous schema —
    renamed columns surface the name they had then."""
    from pyspark.sql import functions as F

    nm = json.loads(
        (md.get("properties") or {}).get("schema.name-mapping.default", "[]")
    )
    name_of_id = {
        f["id"]: f["name"] for f in _schema_by_id(md, schema_id).get("fields", [])
    }
    for entry in nm:
        names = entry.get("names") or []
        if len(names) < 2:
            continue
        logical, physical = names[0], names[1]
        logical = name_of_id.get(entry.get("field-id"), logical)
        if physical == logical:
            continue
        if physical in df.columns and logical in df.columns:
            # mixed vintages (pre-stable-physical-name tables)
            df = df.withColumn(
                logical, F.coalesce(F.col(logical), F.col(physical))
            ).drop(physical)
        elif physical in df.columns:
            df = df.withColumnRenamed(physical, logical)
    return df


def iceberg_plan_entries(
    table_path: str, snapshot_id: int | None = None
) -> tuple[list[dict], list[str], list[dict]]:
    """Like :func:`iceberg_plan_files` but returns the live manifest
    ENTRIES' data_file records (path + partition tuple + counts) —
    what partition-column reconstruction and log-only stats need.

    Returns ``(data_entries, position_delete_files, eq_deletes)``;
    each data entry carries its ``sequence_number`` (needed to scope
    equality deletes), each eq-delete dict is ``{file_path,
    equality_ids, sequence_number}``."""
    md = _load_metadata(table_path)
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = _find_snapshot(md, sid)
    _, _, manifests = read_ocf(Path(snap["manifest-list"]))
    entries: list[dict] = []
    delete_files: list[str] = []
    eq_deletes: list[dict] = []
    for m in manifests:
        _, _, es = read_ocf(Path(m["manifest_path"]))
        for e in es:
            if e["status"] == ST_DELETED:
                continue
            df = e["data_file"]
            seq = e.get("sequence_number") or 0
            if df.get("content") == CONTENT_EQ_DELETES:
                eq_deletes.append(
                    {
                        "file_path": df["file_path"],
                        "equality_ids": df.get("equality_ids") or [],
                        "sequence_number": seq,
                    }
                )
            elif df["content"] == CONTENT_DELETES:
                delete_files.append(df["file_path"])
            else:
                df = dict(df)
                df["sequence_number"] = seq
                entries.append(df)
    return entries, delete_files, eq_deletes


def _current_ids(md: dict, schema_id: int | None = None) -> dict[int, str]:
    """field-id → name of the resolution-target schema (current by
    default; a snapshot's own schema-id for time-traveled reads)."""
    return {
        f["id"]: f["name"] for f in _schema_by_id(md, schema_id).get("fields", [])
    }


def _scan_resolved(
    spark: SparkSession,
    data_files: list[str],
    md: dict,
    schema_id: int | None = None,
) -> DataFrame:
    """Scan data files resolving columns BY FIELD ID — Iceberg's core
    evolution rule: a file written before a rename stores the old
    name, but its parquet footer carries ``PARQUET:field_id``, and
    the id, not the name, binds the column to the current schema.

    Files are grouped by their footer id→name signature (one footer
    read per file, driver-side); each divergent vintage is scanned as
    its own branch, renamed id-wise to current names, and the
    branches union by name.  Vintage count = schema-evolution count —
    a handful — so this adds no meaningful plan width at 100 TB.
    Files without field ids fall back to the name-mapping path.
    The returned frame carries ``_ipath``/``_ipos`` (captured per
    branch — ``_metadata`` does not survive a union) for the
    position-delete anti-join."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    current = _current_ids(md, schema_id)
    groups: dict[tuple, list[str]] = {}
    for p in data_files:
        sch = pq.ParquetFile(p).schema_arrow
        sig = tuple(
            sorted(
                (int(f.metadata[b"PARQUET:field_id"]), f.name)
                for f in sch
                if f.metadata and b"PARQUET:field_id" in f.metadata
            )
        )
        groups.setdefault(sig, []).append(p)

    branches = []
    for sig, files in groups.items():
        if not sig:
            # no embedded ids: resolve via name mapping, per-vintage
            # explicit schemas (type promotion + dropped invisibility)
            branches.append(_scan_name_mapped(spark, files, md, schema_id))
            continue
        b = (
            spark.read.option("mergeSchema", "true")
            .parquet(*files)
            .withColumn(
                "_ipath",
                F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", ""),
            )
            .withColumn("_ipos", F.col("_metadata.row_index"))
        )
        for fid, name in sig:
            target = current.get(fid)
            if target and target != name and name in b.columns:
                b = b.withColumnRenamed(name, target)
        branches.append(b)
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


def _reconstruct_identity_partitions(
    spark: SparkSession,
    df: DataFrame,
    md: dict,
    entries: list[dict],
    schema_id: int | None = None,
) -> DataFrame:
    """Attach identity-partitioned columns that are ABSENT from the
    data files (Hive-migrated and some foreign writers store them
    only in the manifests' partition tuples) — broadcast path→value
    map, like the Delta reader's partitionValues reconstruction.

    ``schema_id`` resolves the source column under the SNAPSHOT's
    contemporaneous schema: a time-traveled read's final projection
    keeps the snapshot-era names, so attaching the column under its
    CURRENT (post-rename) name would silently drop it."""
    from pyspark.sql import functions as F

    ids = _current_ids(md, schema_id)
    spec_id = md.get("default-spec-id", 0)
    spec = next(
        (s for s in md.get("partition-specs", []) if s.get("spec-id") == spec_id),
        None,
    )
    if not spec:
        return df
    missing = [
        (f["name"], ids.get(f["source-id"]))
        for f in spec.get("fields", [])
        if f.get("transform") == "identity"
        and ids.get(f["source-id"])
        and ids[f["source-id"]] not in df.columns
    ]
    if not missing:
        return df
    import pandas as pd

    rows: dict[str, list] = {"_ipath": [e["file_path"] for e in entries]}
    for part_name, col_name in missing:
        rows[col_name] = [
            (e.get("partition") or {}).get(part_name) for e in entries
        ]
    pmap = spark.createDataFrame(pd.DataFrame(rows))
    return df.join(F.broadcast(pmap), "_ipath")


def read_iceberg(
    spark: SparkSession,
    table_path: str,
    snapshot_id: int | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Open a (possibly foreign) table the way an Iceberg reader
    must: plan files from the chosen snapshot's manifests, scan the
    data files RESOLVING COLUMNS BY FIELD ID (falling back to the
    name mapping for id-less files), reconstruct identity-partition
    columns stored only in manifest partition tuples, anti-join
    position deletes on (file_path, pos), and apply EQUALITY deletes
    (content=2) to rows from data files whose sequence number is
    strictly below the delete's — the Flink-CDC writer layout.
    ``ref`` reads a named ref (tag/branch) from the metadata."""
    md = _load_metadata(table_path)
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id OR ref, not both")
        snapshot_id = md["refs"][ref]["snapshot-id"]
    # resolve the SNAPSHOT's contemporaneous schema (spec: snapshots
    # carry a schema-id into the schemas lineage) — a time-traveled
    # read surfaces the names/types the table had at that snapshot
    sid = None
    if snapshot_id is not None:
        snap = next(
            (s for s in md.get("snapshots", []) if s["snapshot-id"] == snapshot_id),
            None,
        )
        if snap is not None and "schema-id" in snap:
            sid = snap["schema-id"]
    entries, delete_files, eq_deletes = iceberg_plan_entries(table_path, snapshot_id)
    if not entries:
        # truncated table (zero-manifest snapshot): a valid EMPTY
        # read in the snapshot's schema, not an error
        ctypes = _current_types(md, sid)
        if ctypes and all(t is not None for t in ctypes.values()):
            ddl = ", ".join(f"`{n}` {t}" for n, t in ctypes.items())
            return spark.createDataFrame([], ddl)
        raise ValueError(f"no data files at snapshot {snapshot_id}")
    data_files = [e["file_path"] for e in entries]
    df = _scan_resolved(spark, data_files, md, sid)
    df = _reconstruct_identity_partitions(spark, df, md, entries, sid)
    if delete_files:
        dels = spark.read.parquet(*delete_files)
        df = df.join(
            dels.withColumnRenamed("file_path", "_ipath").withColumnRenamed(
                "pos", "_ipos"
            ),
            ["_ipath", "_ipos"],
            "left_anti",
        )
    if eq_deletes:
        df = _apply_equality_deletes(spark, df, md, entries, eq_deletes)
    df = df.drop("_ipath", "_ipos", "_iseq")
    # project to the snapshot schema: columns ADDED after this
    # snapshot are not part of its schema and must not surface
    want = [f["name"] for f in _schema_by_id(md, sid).get("fields", [])]
    keep = [n for n in want if n in df.columns]
    return df.select(*keep) if keep else df


def _apply_equality_deletes(
    spark: SparkSession,
    df: DataFrame,
    md: dict,
    entries: list[dict],
    eq_deletes: list[dict],
) -> DataFrame:
    """Apply Iceberg v2 equality-delete files (content=2).

    Scoping rule (spec §Scan Planning): an equality delete with data
    sequence number S removes matching rows ONLY from data files with
    sequence number < S — rows re-inserted at or after S survive. The
    data row's sequence number is attached by broadcasting the tiny
    path→seq map from the manifests onto the scan's ``_ipath``; each
    delete file then removes rows via a LEFT ANTI join on its
    ``equality_ids`` columns plus the seq bound.

    Delete-file columns resolve BY FIELD ID against the current
    schema (same contract as data files — a delete written before a
    rename still applies). Scale: delete files are CDC-sized (keys
    only); every anti-join here broadcasts the delete side, and the
    seq map is O(files), never data-sized.
    """
    from pyspark.sql import functions as F

    current = _current_ids(md)
    seq_rows = [
        (_norm_path(e["file_path"]), int(e.get("sequence_number") or 0))
        for e in entries
    ]
    seq_df = spark.createDataFrame(seq_rows, "_ipath STRING, _iseq BIGINT")
    df = df.join(F.broadcast(seq_df), "_ipath", "left")
    for ed in sorted(eq_deletes, key=lambda d: d["sequence_number"]):
        names = [current[int(fid)] for fid in ed["equality_ids"]]
        if not names:
            continue
        dels = _scan_resolved_single(spark, ed["file_path"], md).select(
            *[F.col(n).alias(f"__eq_{n}") for n in names]
        )
        cond = F.col("_iseq") < F.lit(int(ed["sequence_number"]))
        for n in names:
            cond = cond & F.col(n).eqNullSafe(F.col(f"__eq_{n}"))
        df = df.join(F.broadcast(dels), on=cond, how="left_anti")
    return df


def _norm_path(p: str) -> str:
    return p.removeprefix("file://").removeprefix("file:")


def _scan_resolved_single(spark: SparkSession, path: str, md: dict) -> DataFrame:
    """Field-id-resolved scan of ONE file (delete files): footer ids
    rename to current-schema names; id-less footers pass through by
    name (the name-mapping fallback)."""
    import pyarrow.parquet as pq

    current = _current_ids(md)
    sch = pq.ParquetFile(path).schema_arrow
    b = spark.read.parquet(path)
    for f in sch:
        if f.metadata and b"PARQUET:field_id" in f.metadata:
            fid = int(f.metadata[b"PARQUET:field_id"])
            tgt = current.get(fid)
            if tgt and tgt != f.name:
                b = b.withColumnRenamed(f.name, tgt)
    return b


def _item_field_name(item: str) -> str:
    """Exported partition-field name of a native spec item (mirrors
    :func:`translate_spec_fields`)."""
    m = LakehouseTable._TRANSFORM_RE.match(item)
    if not m:
        return item.strip()
    kind, _n, col = m.group(1), m.group(2), m.group(3)
    return f"{col}_" + {"month": "month", "bucket": "bucket", "truncate": "trunc"}[kind]


def iceberg_plan_files_pruned(
    table_path: str, item: str, lo, hi, snapshot_id: int | None = None
) -> dict:
    """Plan a partition-PRUNED scan purely from the exported Iceberg
    metadata — the two metadata tiers an external planner uses:

    1. manifest list: a manifest whose ``field_summary`` bounds for
       the predicate's partition field miss ``[lo, hi]`` (and holds no
       null partition values) is skipped WITHOUT being opened;
    2. manifest entries: a data file whose partition-tuple value for
       the field falls outside ``[lo, hi]`` is never listed.

    Files under specs lacking the field (older/newer spec vintages,
    spec-0 restates) are always kept — pruning must be scan-safe,
    exactly :meth:`LakehouseTable.scan_pruned_hidden`'s contract.
    ``lo``/``hi`` use the NATIVE stat representation (e.g. ``yyyy-MM``
    strings for ``month(col)``) and are canonicalized here. This is
    what makes the export useful at 100 TB: planning cost is
    O(surviving manifests), not O(files), and the data tier is never
    touched. Returns ``{data_files, delete_files, files_total,
    manifests_read, manifests_total}``."""
    md = _load_metadata(table_path)
    schema = md["schemas"][0]
    fname = _item_field_name(item)
    # per-spec: (field index within the spec, transform result type)
    target: dict[int, tuple[int, str]] = {}
    for spec in md["partition-specs"]:
        for i, f in enumerate(spec["fields"]):
            if f["name"] == fname:
                target[spec["spec-id"]] = (i, result_type(f, schema))
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = _find_snapshot(md, sid)
    _, _, manifests = read_ocf(Path(snap["manifest-list"]))
    out = {
        "data_files": [],
        "delete_files": [],
        "eq_deletes": [],
        "files_total": 0,
        "manifests_read": 0,
        "manifests_total": 0,
    }
    for m in manifests:
        if m["content"] == CONTENT_DELETES:
            _, _, entries = read_ocf(Path(m["manifest_path"]))
            for e in entries:
                if e["status"] == ST_DELETED:
                    continue
                d = e["data_file"]
                if d.get("content") == CONTENT_EQ_DELETES:
                    out["eq_deletes"].append(
                        {
                            "file_path": d["file_path"],
                            "equality_ids": d.get("equality_ids") or [],
                            "sequence_number": e.get("sequence_number") or 0,
                        }
                    )
                else:
                    out["delete_files"].append(d["file_path"])
            continue
        out["manifests_total"] += 1
        out["files_total"] += m["added_files_count"] + m["existing_files_count"]
        hit = target.get(m["partition_spec_id"])
        if hit is not None and m.get("partitions"):
            idx, rt = hit
            s = m["partitions"][idx]
            lo_i, hi_i = to_iceberg_value(lo, rt), to_iceberg_value(hi, rt)
            if not s["contains_null"] and s["lower_bound"] is not None:
                mlo = _bound_value(s["lower_bound"], rt)
                mhi = _bound_value(s["upper_bound"], rt)
                if hi_i < mlo or lo_i > mhi:
                    continue  # whole manifest skipped, never opened
        out["manifests_read"] += 1
        _, _, entries = read_ocf(Path(m["manifest_path"]))
        for e in entries:
            if e["status"] == ST_DELETED:
                continue
            df = e["data_file"]
            # delete entries can live in data-content manifests too
            # (single-manifest writers); route by data_file.content —
            # delete files are NEVER partition-pruned (a delete in a
            # pruned-away partition can still hit kept files under an
            # older spec)
            if df.get("content") == CONTENT_EQ_DELETES:
                out["eq_deletes"].append(
                    {
                        "file_path": df["file_path"],
                        "equality_ids": df.get("equality_ids") or [],
                        "sequence_number": e.get("sequence_number") or 0,
                    }
                )
                continue
            if df.get("content") == CONTENT_DELETES:
                out["delete_files"].append(df["file_path"])
                continue
            if hit is None:
                out["data_files"].append(df["file_path"])
                continue
            idx, rt = hit
            v = df["partition"].get(fname)
            lo_i, hi_i = to_iceberg_value(lo, rt), to_iceberg_value(hi, rt)
            if v is None or (lo_i <= v <= hi_i):
                out["data_files"].append(df["file_path"])
    return out


def read_iceberg_pruned(
    spark: SparkSession,
    table_path: str,
    item: str,
    lo,
    hi,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, dict]:
    """Scan an exported table with partition pruning planned from the
    Iceberg metadata alone. NO residual predicate is applied (hidden
    transform values do not exist in the data files) — callers filter
    the raw column themselves, so correctness never depends on the
    pruning. Returns (df, plan stats)."""
    plan = iceberg_plan_files_pruned(table_path, item, lo, hi, snapshot_id)
    if not plan["data_files"]:
        empty = read_iceberg(spark, table_path, snapshot_id).limit(0)
        return empty, plan
    md = _load_metadata(table_path)
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(*plan["data_files"])
    # capture file identity ONCE, on the scan itself — _metadata is
    # not resolvable after a join, and both delete flavors need it
    df = df.withColumn(
        "_ipath", F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    ).withColumn("_ipos", F.col("_metadata.row_index"))
    if plan["delete_files"]:
        dels = spark.read.parquet(*plan["delete_files"])
        df = df.join(
            dels.withColumnRenamed("file_path", "_ipath").withColumnRenamed(
                "pos", "_ipos"
            ),
            ["_ipath", "_ipos"],
            "left_anti",
        )
    df = _apply_name_mapping(df, md)
    if plan["eq_deletes"]:
        entries, _, _ = iceberg_plan_entries(table_path, snapshot_id)
        keep = set(plan["data_files"])
        df = _apply_equality_deletes(
            spark, df, md, [e for e in entries if e["file_path"] in keep],
            plan["eq_deletes"],
        )
    return df.drop("_ipath", "_ipos", "_iseq"), plan


def iceberg_plan_files_stats_pruned(
    table_path: str,
    col: str | None = None,
    lo=None,
    hi=None,
    snapshot_id: int | None = None,
    preds: dict | None = None,
) -> dict:
    """Plan a scan pruned by PER-FILE COLUMN BOUNDS (data_file
    lower_bounds/upper_bounds, the spec's map<field-id, binary>) —
    file-level skipping on any stats column, no partition spec
    required. Pass one range as ``(col, lo, hi)`` or several as
    ``preds={col: (lo, hi), ...}`` — a file survives only if its
    bounds overlap EVERY listed column's range (the multi-dimension
    box scan a Hilbert/Z-ordered export serves). Files without bounds
    for a column are KEPT (scan-safe), same contract as every other
    pruning tier. Returns ``{data_files, delete_files, eq_deletes,
    files_total, files_skipped}``."""
    if preds is None:
        if col is None:
            raise ValueError("pass (col, lo, hi) or preds={col: (lo, hi)}")
        preds = {col: (lo, hi)}
    md = _load_metadata(table_path)
    sid0 = md.get("current-schema-id", 0)
    schema = next(
        (s for s in md.get("schemas", []) if s.get("schema-id") == sid0),
        md.get("schema"),
    )
    tests = []  # (field id, result type, canonical lo, canonical hi)
    for cname, (plo, phi) in preds.items():
        fld = next((f for f in schema["fields"] if f["name"] == cname), None)
        if fld is None:
            raise ValueError(f"no column {cname!r} in the current schema")
        rt = fld["type"]
        tests.append(
            (fld["id"], rt, to_iceberg_value(plo, rt), to_iceberg_value(phi, rt))
        )
    sid = snapshot_id if snapshot_id is not None else md["current-snapshot-id"]
    snap = _find_snapshot(md, sid)
    _, _, manifests = read_ocf(Path(snap["manifest-list"]))
    out = {
        "data_files": [],
        "delete_files": [],
        "eq_deletes": [],
        "files_total": 0,
        "files_skipped": 0,
    }
    for m in manifests:
        _, _, entries = read_ocf(Path(m["manifest_path"]))
        for e in entries:
            if e["status"] == ST_DELETED:
                continue
            d = e["data_file"]
            if d.get("content") == CONTENT_EQ_DELETES:
                out["eq_deletes"].append(
                    {
                        "file_path": d["file_path"],
                        "equality_ids": d.get("equality_ids") or [],
                        "sequence_number": e.get("sequence_number") or 0,
                    }
                )
                continue
            if d.get("content") == CONTENT_DELETES:
                out["delete_files"].append(d["file_path"])
                continue
            out["files_total"] += 1
            lbs = {kv["key"]: kv["value"] for kv in (d.get("lower_bounds") or [])}
            ubs = {kv["key"]: kv["value"] for kv in (d.get("upper_bounds") or [])}
            skip = False
            for fid, rt, lo_i, hi_i in tests:
                if fid in lbs and fid in ubs:
                    flo = _bound_value(lbs[fid], rt)
                    fhi = _bound_value(ubs[fid], rt)
                    if hi_i < flo or lo_i > fhi:
                        skip = True
                        break
            if skip:
                out["files_skipped"] += 1
                continue
            out["data_files"].append(d["file_path"])
    return out


def read_iceberg_stats_pruned(
    spark: SparkSession, table_path: str, col: str, lo, hi,
    snapshot_id: int | None = None,
) -> tuple[DataFrame, dict]:
    """Scan an exported table with FILE-LEVEL stats pruning planned
    from the Iceberg metadata alone (per-file column bounds). No
    residual predicate is applied — callers filter the column
    themselves, so correctness never depends on the pruning."""
    plan = iceberg_plan_files_stats_pruned(table_path, col, lo, hi, snapshot_id)
    if not plan["data_files"]:
        return read_iceberg(spark, table_path, snapshot_id).limit(0), plan
    md = _load_metadata(table_path)
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(*plan["data_files"])
    df = df.withColumn(
        "_ipath", F.regexp_replace(F.col("_metadata.file_path"), "^file:(//)?", "")
    ).withColumn("_ipos", F.col("_metadata.row_index"))
    if plan["delete_files"]:
        dels = spark.read.parquet(*plan["delete_files"])
        df = df.join(
            dels.withColumnRenamed("file_path", "_ipath").withColumnRenamed(
                "pos", "_ipos"
            ),
            ["_ipath", "_ipos"],
            "left_anti",
        )
    df = _apply_name_mapping(df, md)
    if plan["eq_deletes"]:
        entries, _, _ = iceberg_plan_entries(table_path, snapshot_id)
        keep = set(plan["data_files"])
        df = _apply_equality_deletes(
            spark, df, md, [e for e in entries if e["file_path"] in keep],
            plan["eq_deletes"],
        )
    return df.drop("_ipath", "_ipos", "_iseq"), plan


# ---------------------------------------------------------------------------
# gate query
# ---------------------------------------------------------------------------

from lakehouse_test_spark.registry import query  # noqa: E402
from lakehouse_test_spark.session import load_table  # noqa: E402


@query(
    "lakehouse_iceberg_roundtrip",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM events
    WHERE event_type <> 'click' AND event_id % 7 <> 0
    GROUP BY event_type
    """,
    tags=("lakehouse", "iceberg", "events"),
)
def lakehouse_iceberg_roundtrip(spark: SparkSession, sf_dir: str):
    """Full Iceberg interop loop: ingest events in two commits, DELETE
    one event type (full restate → overwrite snapshot), DV-delete a
    slice (→ position-delete files), export Iceberg v2 metadata, then
    aggregate the table as read back THROUGH the metadata (manifest
    list → manifests → scan + position-delete anti-join) — proving an
    external Iceberg reader would see exactly the committed state.

    Oracle-checkable: the roundtrip must equal the straight batch
    aggregate minus the deleted type and the DV'd slice.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = tempfile.mkdtemp(prefix="lakehouse_iceberg_rt_")
    t = LakehouseTable(spark, path)
    half = e.where(F.col("event_id") % 2 == 0)
    t.append(half, stats_cols=["event_id"])
    t.append(e.where(F.col("event_id") % 2 == 1), stats_cols=["event_id"])
    t.delete_where("event_type = 'click'", stats_cols=["event_id"])
    t.delete_where_dv("event_id % 7 = 0")
    export_iceberg_metadata(spark, t)
    via_iceberg = read_iceberg(spark, str(t.path))
    return (
        via_iceberg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(dsum(F.col("value")), 2).alias("total_value"),
        )
        .localCheckpoint()  # materialize before the temp table drops
    )


@query(
    "lakehouse_iceberg_partitioned_export",
    oracle="""
    SELECT CAST(user_id % 8 AS BIGINT) AS user_cohort,
           count(*) AS n_events,
           CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY CAST(user_id % 8 AS BIGINT)
    """,
    tags=("lakehouse", "iceberg", "partitioning", "events"),
)
def lakehouse_iceberg_partitioned_export(spark: SparkSession, sf_dir: str):
    """Iceberg export of a HIDDEN-PARTITIONED table, queried through a
    metadata-planned PRUNED scan: write under spec ``[event_type]``,
    evolve to ``[event_type, bucket(2, user_id)]`` (spec-id bump),
    write more, export, then plan ``event_type = 'purchase'`` from
    the exported manifest lists + partition tuples alone — files of
    other event types are never listed, across BOTH spec vintages.
    The residual filter keeps correctness independent of pruning
    (scan-safe contract). Reference analog: partitioned-topic scan
    scheduling, PerformanceConsumer.java:127-130.

    Oracle-checkable: the pruned roundtrip must equal the straight
    batch aggregate over the purchase slice.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    path = tempfile.mkdtemp(prefix="lakehouse_iceberg_part_")
    t = LakehouseTable(spark, path)
    t.set_partition_spec(["event_type"])
    t.append_partitioned(e.where(F.col("event_id") % 2 == 0))
    t.set_partition_spec(["event_type", "bucket(2, user_id)"])
    t.append_partitioned(e.where(F.col("event_id") % 2 == 1))
    export_iceberg_metadata(spark, t)
    pruned, plan = read_iceberg_pruned(
        spark, str(t.path), "event_type", "purchase", "purchase"
    )
    assert plan["data_files"] and len(plan["data_files"]) < plan["files_total"], plan
    return (
        pruned.where(F.col("event_type") == "purchase")  # residual: exactness
        .groupBy((F.col("user_id") % 8).cast("bigint").alias("user_cohort"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dround(dsum(F.col("value")), 2).alias("total_value"),
        )
        .localCheckpoint()  # materialize before the temp table drops
    )


@query(
    "lakehouse_iceberg_import_foreign",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
      AND NOT (o_orderkey % 2 = 1 AND o_orderkey % 97 = 0)
    GROUP BY o_orderstatus
    """,
    tags=("lakehouse", "iceberg", "interop", "import", "orders"),
)
def lakehouse_iceberg_import_foreign(spark: SparkSession, sf_dir: str):
    """Import a FOREIGN-style Iceberg v2 table — a layout our own
    exporter never writes — exercising the three resolution rules a
    real Iceberg reader must implement:

    - FIELD-ID RESOLUTION: the even-orderkey vintage was written
      BEFORE a rename, storing the status column as ``status`` but
      carrying ``PARQUET:field_id = 2``; the current schema names
      field 2 ``o_orderstatus``, and the id — not the name — binds
      the column (Iceberg spec §Column Projection);
    - IDENTITY-PARTITION RECONSTRUCTION: ``o_orderpriority`` is
      absent from every data file (the Hive-migration layout); its
      values exist only in the manifests' partition tuples;
    - MANIFEST-ENTRY STATUS + POSITION DELETES: one manifest entry
      is status=DELETED and references a sentinel file whose rows
      would corrupt the aggregate if scanned, and a content=1
      position-delete file removes every odd-vintage row with
      ``o_orderkey % 97 == 0``.

    Hash-gated against the straight SQL answer over orders.
    """
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum
    from lakehouse_test_spark.session import load_table

    pdf = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice")
        .toPandas()
    )
    root = Path(tempfile.mkdtemp(prefix="iceberg_foreign_"))
    (root / "metadata").mkdir(parents=True)
    (root / "data").mkdir()
    sid = 7001

    def _arrow_schema(status_name: str) -> pa.schema:
        return pa.schema(
            [
                pa.field("o_orderkey", pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field(status_name, pa.string(),
                         metadata={b"PARQUET:field_id": b"2"}),
                pa.field("o_totalprice", pa.float64(),
                         metadata={b"PARQUET:field_id": b"3"}),
            ]
        )

    part_avro = {
        "type": "record",
        "name": "r102",
        "fields": [
            {"name": "o_orderpriority", "type": ["null", "string"],
             "field-id": 1000}
        ],
    }

    def _entry(status: int, path: str, prio, n: int) -> dict:
        return {
            "status": status,
            "snapshot_id": sid,
            "sequence_number": 1,
            "file_sequence_number": 1,
            "data_file": {
                "content": CONTENT_DATA,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {"o_orderpriority": prio},
                "record_count": n,
                "file_size_in_bytes": Path(path).stat().st_size,
            },
        }

    # vintage A (pre-rename names + ids, even orderkeys), vintage B
    # (current names + ids, odd orderkeys); one file per priority,
    # partition column NOT in any file
    entries_a, entries_b, delete_rows = [], [], []
    for vintage, old_names, parity in (("a", True, 0), ("b", False, 1)):
        sub = pdf[pdf["o_orderkey"] % 2 == parity]
        for prio, grp in sub.groupby("o_orderpriority"):
            rel = str(root / "data" / f"{vintage}-{prio[:1]}.parquet")
            cols = grp[["o_orderkey", "o_orderstatus", "o_totalprice"]].rename(
                columns={"o_orderstatus": "status"} if old_names else {}
            )
            tbl = pa.Table.from_pandas(cols, preserve_index=False)
            name = "status" if old_names else "o_orderstatus"
            tbl = tbl.cast(_arrow_schema(name))
            pq.write_table(tbl, rel)
            e = _entry(ST_ADDED, rel, str(prio), len(grp))
            (entries_a if old_names else entries_b).append(e)
            if not old_names:
                # position deletes target the odd vintage: file+pos of
                # every row with orderkey % 97 == 0
                keys = grp["o_orderkey"].reset_index(drop=True)
                for pos in keys.index[keys % 97 == 0].tolist():
                    delete_rows.append((rel, pos))

    # sentinel file referenced ONLY by a status=DELETED entry — a
    # reader that scans it corrupts every aggregate
    bad = str(root / "data" / "deleted-sentinel.parquet")
    pq.write_table(
        pa.Table.from_pandas(
            pdf.head(50)[["o_orderkey", "o_orderstatus", "o_totalprice"]],
            preserve_index=False,
        ).cast(_arrow_schema("o_orderstatus")),
        bad,
    )
    entries_b.append(_entry(ST_DELETED, bad, "1-URGENT", 50))

    # content=1 position-delete file (file_path, pos), sorted per spec
    del_path = str(root / "data" / "pos-deletes.parquet")
    delete_rows.sort()
    pq.write_table(
        pa.table(
            {
                "file_path": [p for p, _ in delete_rows],
                "pos": pa.array([p for _, p in delete_rows], pa.int64()),
            }
        ),
        del_path,
    )
    del_entry = {
        "status": ST_ADDED,
        "snapshot_id": sid,
        "sequence_number": 2,
        "file_sequence_number": 2,
        "data_file": {
            "content": CONTENT_DELETES,
            "file_path": del_path,
            "file_format": "PARQUET",
            "partition": {"o_orderpriority": None},
            "record_count": len(delete_rows),
            "file_size_in_bytes": Path(del_path).stat().st_size,
        },
    }

    mschema = manifest_entry_schema(part_avro)
    m_a = root / "metadata" / "manifest-a.avro"
    m_b = root / "metadata" / "manifest-b.avro"
    write_ocf(m_a, mschema, entries_a, {"schema": "{}", "content": "data"})
    write_ocf(m_b, mschema, entries_b + [del_entry], {"schema": "{}", "content": "data"})
    mlist = root / "metadata" / f"snap-{sid}.avro"
    write_ocf(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": str(m), "manifest_length": m.stat().st_size,
                "partition_spec_id": 0, "content": CONTENT_DATA,
                "sequence_number": 1, "min_sequence_number": 1,
                "added_snapshot_id": sid,
                "added_files_count": n_add, "existing_files_count": 0,
                "deleted_files_count": n_del,
                "added_rows_count": 0, "existing_rows_count": 0,
                "deleted_rows_count": 0, "partitions": None,
            }
            for m, n_add, n_del in ((m_a, len(entries_a), 0), (m_b, len(entries_b), 1))
        ],
    )
    meta = {
        "format-version": 2,
        "table-uuid": "foreign-fixture",
        "location": str(root),
        "current-snapshot-id": sid,
        "snapshots": [{"snapshot-id": sid, "manifest-list": str(mlist)}],
        "schemas": [
            {
                "type": "struct", "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
                    {"id": 2, "name": "o_orderstatus", "required": False, "type": "string"},
                    {"id": 3, "name": "o_totalprice", "required": False, "type": "double"},
                    {"id": 4, "name": "o_orderpriority", "required": False, "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "o_orderpriority", "transform": "identity",
                     "source-id": 4, "field-id": 1000}
                ],
            }
        ],
        "default-spec-id": 0,
        "properties": {},
        "refs": {},
    }
    (root / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    (root / "metadata" / "version-hint.text").write_text("1")

    df = read_iceberg(spark, str(root))
    return (
        df.where(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dround(dsum(F.col("o_totalprice")), 2).alias("total_price"),
        )
        .localCheckpoint()
    )


@query(
    "lakehouse_iceberg_eq_delete_import",
    oracle="""
    WITH a AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey % 3 = 0 AND c_custkey % 15 <> 0
    ), b1 AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
      WHERE c_custkey % 3 = 1
    ), b2 AS (
      SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey % 15 = 0
    ), final AS (
      SELECT * FROM a UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
    )
    SELECT c_mktsegment, count(*) AS n_rows,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_bal
    FROM final WHERE c_custkey % 7 <> 0
    GROUP BY c_mktsegment
    """,
    tags=("lakehouse", "iceberg", "interop", "import", "customer"),
)
def lakehouse_iceberg_eq_delete_import(spark: SparkSession, sf_dir: str):
    """Import a foreign Iceberg v2 table carrying EQUALITY deletes
    (content=2) — the Flink-CDC writer layout our exporter never
    produces — exercising the spec's scan-planning rules:

    - SEQUENCE-NUMBER SCOPING: delete E1 (seq 2, ids=[c_custkey])
      removes matching rows from data file A (seq 1) but NOT from
      file B (seq 3), which re-inserts some of the very same keys
      with a shifted balance — those must survive;
    - MULTI-COLUMN equality: delete E2 (seq 4, ids=[c_custkey,
      c_name]) matches on the (key, name) pair and hits BOTH data
      vintages;
    - FIELD-ID RESOLUTION OF DELETE FILES: E2's parquet columns are
      named ``ck``/``nm`` — only the footer field ids (1, 2) bind
      them to the schema's c_custkey/c_name.

    Hash-gated against the relational reconstruction over customer.
    """
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    pdf = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
        .toPandas()
    )
    root = Path(tempfile.mkdtemp(prefix="iceberg_eqdel_"))
    (root / "metadata").mkdir(parents=True)
    (root / "data").mkdir()
    sid = 9001

    def _schema(names: dict[str, str] | None = None) -> pa.schema:
        nm = names or {}
        return pa.schema(
            [
                pa.field(nm.get("c_custkey", "c_custkey"), pa.int64(),
                         metadata={b"PARQUET:field_id": b"1"}),
                pa.field(nm.get("c_name", "c_name"), pa.string(),
                         metadata={b"PARQUET:field_id": b"2"}),
                pa.field(nm.get("c_acctbal", "c_acctbal"), pa.float64(),
                         metadata={b"PARQUET:field_id": b"3"}),
                pa.field(nm.get("c_mktsegment", "c_mktsegment"), pa.string(),
                         metadata={b"PARQUET:field_id": b"4"}),
            ]
        )

    def _data_entry(path: str, seq: int, n: int) -> dict:
        return {
            "status": ST_ADDED, "snapshot_id": sid,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": CONTENT_DATA, "file_path": path,
                "file_format": "PARQUET", "partition": {},
                "record_count": n,
                "file_size_in_bytes": Path(path).stat().st_size,
                "equality_ids": None,
            },
        }

    # data file A (seq 1): every key % 3 == 0
    a = pdf[pdf["c_custkey"] % 3 == 0]
    pa_path = str(root / "data" / "a.parquet")
    pq.write_table(
        pa.Table.from_pandas(a, preserve_index=False).cast(_schema()), pa_path
    )
    # data file B (seq 3): keys % 3 == 1, PLUS re-inserts of the
    # E1-deleted keys with balance + 1000 (these must survive E1)
    import pandas as pd

    reins = pdf[pdf["c_custkey"] % 15 == 0].copy()
    reins["c_acctbal"] = reins["c_acctbal"] + 1000
    b = pd.concat([pdf[pdf["c_custkey"] % 3 == 1], reins])
    pb_path = str(root / "data" / "b.parquet")
    pq.write_table(
        pa.Table.from_pandas(b, preserve_index=False).cast(_schema()), pb_path
    )

    # E1 (seq 2): single-column equality delete on c_custkey
    e1 = pdf[pdf["c_custkey"] % 5 == 0][["c_custkey"]]
    e1_path = str(root / "data" / "eq-del-1.parquet")
    pq.write_table(
        pa.Table.from_pandas(e1, preserve_index=False).cast(
            pa.schema([pa.field("c_custkey", pa.int64(),
                                metadata={b"PARQUET:field_id": b"1"})])
        ),
        e1_path,
    )
    # E2 (seq 4): multi-column (key, name) with ODD column names —
    # only the footer field ids bind them
    e2 = pdf[pdf["c_custkey"] % 7 == 0][["c_custkey", "c_name"]].rename(
        columns={"c_custkey": "ck", "c_name": "nm"}
    )
    e2_path = str(root / "data" / "eq-del-2.parquet")
    pq.write_table(
        pa.Table.from_pandas(e2, preserve_index=False).cast(
            pa.schema([
                pa.field("ck", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
                pa.field("nm", pa.string(), metadata={b"PARQUET:field_id": b"2"}),
            ])
        ),
        e2_path,
    )

    def _del_entry(path: str, seq: int, ids: list[int], n: int) -> dict:
        return {
            "status": ST_ADDED, "snapshot_id": sid,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": CONTENT_EQ_DELETES, "file_path": path,
                "file_format": "PARQUET", "partition": {},
                "record_count": n,
                "file_size_in_bytes": Path(path).stat().st_size,
                "equality_ids": ids,
            },
        }

    m_data = root / "metadata" / "manifest-data.avro"
    m_del = root / "metadata" / "manifest-deletes.avro"
    write_ocf(
        m_data, MANIFEST_ENTRY_SCHEMA,
        [_data_entry(pa_path, 1, len(a)), _data_entry(pb_path, 3, len(b))],
        {"schema": "{}", "content": "data"},
    )
    write_ocf(
        m_del, MANIFEST_ENTRY_SCHEMA,
        [_del_entry(e1_path, 2, [1], len(e1)), _del_entry(e2_path, 4, [1, 2], len(e2))],
        {"schema": "{}", "content": "deletes"},
    )
    mlist = root / "metadata" / f"snap-{sid}.avro"
    write_ocf(
        mlist, MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": str(m_data), "manifest_length": m_data.stat().st_size,
                "partition_spec_id": 0, "content": CONTENT_DATA,
                "sequence_number": 1, "min_sequence_number": 1,
                "added_snapshot_id": sid, "added_files_count": 2,
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": 0, "existing_rows_count": 0,
                "deleted_rows_count": 0, "partitions": None,
            },
            {
                "manifest_path": str(m_del), "manifest_length": m_del.stat().st_size,
                "partition_spec_id": 0, "content": CONTENT_DELETES,
                "sequence_number": 4, "min_sequence_number": 2,
                "added_snapshot_id": sid, "added_files_count": 2,
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": 0, "existing_rows_count": 0,
                "deleted_rows_count": 0, "partitions": None,
            },
        ],
    )
    meta = {
        "format-version": 2,
        "table-uuid": "foreign-eqdel-fixture",
        "location": str(root),
        "current-snapshot-id": sid,
        "snapshots": [{"snapshot-id": sid, "manifest-list": str(mlist)}],
        "schemas": [
            {
                "type": "struct", "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "c_custkey", "required": False, "type": "long"},
                    {"id": 2, "name": "c_name", "required": False, "type": "string"},
                    {"id": 3, "name": "c_acctbal", "required": False, "type": "double"},
                    {"id": 4, "name": "c_mktsegment", "required": False,
                     "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "properties": {},
        "refs": {},
    }
    (root / "metadata" / "v1.metadata.json").write_text(json.dumps(meta))
    (root / "metadata" / "version-hint.text").write_text("1")

    df = read_iceberg(spark, str(root))
    return (
        df.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dround(dsum(F.col("c_acctbal")), 2).alias("total_bal"),
        )
        .localCheckpoint()
    )


@query(
    "lakehouse_iceberg_stats_pruning",
    oracle="""
    WITH f AS (
      SELECT l_orderkey, l_returnflag, l_extendedprice
      FROM lineitem WHERE l_orderkey % 4 <> 3
    ), m AS (
      SELECT CAST(floor(max(l_orderkey) / 3.0) AS BIGINT) AS cut1 FROM f
    )
    SELECT l_returnflag,
           count(*) AS n_items,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS revenue
    FROM f, m
    WHERE f.l_orderkey <= m.cut1
    GROUP BY l_returnflag
    """,
    tags=("lakehouse", "iceberg", "interop", "stats", "lineitem"),
)
def lakehouse_iceberg_stats_pruning(spark: SparkSession, sf_dir: str):
    """Per-file COLUMN BOUNDS through the Iceberg export: commits
    carry native zone-map stats; the exporter serializes them as
    data_file ``lower_bounds``/``upper_bounds`` (map<field-id,
    single-value binary>), and an external planner working from the
    manifests ALONE skips files whose bounds miss the predicate — no
    partition spec involved. The query raises unless files were
    actually skipped, then hash-checks the scanned slice.

    Scale: this is the stats tier Iceberg readers use between
    partition pruning and row groups — at 100 TB with key-ordered
    ingest it cuts a point-range scan from O(files) to O(overlap),
    and the planning cost is O(manifest entries), data never touched.
    """
    import tempfile

    from pyspark.sql import functions as F

    from lakehouse_test_spark.fpsafe import dround, dsum

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_extendedprice")
        .where(F.col("l_orderkey") % 4 != 3)
    )
    t = LakehouseTable(spark, tempfile.mkdtemp(prefix="lh_ice_stats_"))
    # three commits over disjoint key bands -> disjoint exported
    # bounds; cuts derive from the ACTUAL key range so every band is
    # non-empty at any SF (an empty band has no stats and is kept
    # scan-safe, which would under-count the skips asserted below)
    hi = int(li.agg(F.max("l_orderkey")).first()[0])
    cut1, cut2 = hi // 3, (2 * hi) // 3
    for pred in (
        F.col("l_orderkey") <= cut1,
        (F.col("l_orderkey") > cut1) & (F.col("l_orderkey") <= cut2),
        F.col("l_orderkey") > cut2,
    ):
        t.append(li.where(pred).coalesce(1), stats_cols=["l_orderkey"])
    export_iceberg_metadata(spark, t)
    df, plan = read_iceberg_stats_pruned(spark, str(t.path), "l_orderkey", 0, cut1)
    if plan["files_skipped"] < 2:
        raise AssertionError(
            f"exported bounds did not skip files: {plan['files_skipped']} of "
            f"{plan['files_total']}"
        )
    return (
        df.where(F.col("l_orderkey") <= cut1)  # residual: pruning is file-level
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dround(dsum(F.col("l_extendedprice")), 2).alias("revenue"),
        )
        .localCheckpoint()
    )
