"""Protocol-native Apache Iceberg backend — no connector jars.

Companion to the Delta backend (sources/delta.py): the second lake
format the reference consumes (Daft `read_iceberg`, reference
pyproject.toml:7-10). Implements the PUBLIC Iceberg v1 table spec
directly, plus the format-v2 row-level deletes: POSITION delete files
(sequence-scoped `>=` anti-join on (file, pos) — `delete_where_iceberg`
/ `update_where_iceberg`) and EQUALITY delete files (null-safe value
anti-join with the spec's STRICT `>` scoping — `delete_by_key_iceberg`,
and the one-commit delete+insert CDC shape `upsert_by_key_iceberg`).
Metadata is JSON, manifests/manifest-lists are Avro (decoded by the
stdlib codec in sources/avro_io.py):

    <table>/metadata/v<N>.metadata.json   table metadata (schema,
                                          specs, snapshot log)
    <table>/metadata/version-hint.text    commit pointer
    <table>/metadata/snap-<id>.avro       manifest list per snapshot
    <table>/metadata/manifest-<uuid>.avro data-file manifests
    <table>/data/...                      parquet, hive dirs

READ: resolve the current (or any historical) snapshot → manifest
list → manifests → data files with TYPED partition values from the
manifest's partition struct (the metadata is authoritative; paths are
only an optimization) → the same dual scan shape as Delta (shared
`_scan_snapshot`): one basePath scan with native PartitionFilters for
hive-consistent layouts, grouped literal-column unions otherwise.
Snapshot resolution is driver-side metadata work, O(manifest bytes).

WRITE: single-writer append/overwrite. Data files stage through the
shared `_stage_data_files`; each commit writes one manifest, a new
manifest list (append = previous manifests + the new one; overwrite =
the new one alone, so prior files stay reachable ONLY via time
travel), a new v<N>.metadata.json recording the snapshot, and finally
the version-hint — the rename of which is the atomic commit point.

Data file formats: parquet and ORC scan natively (JVM-side, ORC
selectable per commit via write_iceberg(file_format=...)); AVRO data
files decode executor-side through the stdlib avro_io codec
(binaryFile + Arrow-batched mapInPandas, with synthesized row
ordinals so positional deletes fully apply) and register via
ingest_avro_files. ORC positional semantics: Spark's native ORC scan
exposes no _metadata.row_index, so when position-delete files must
APPLY to ORC entries (or a positional DELETE/UPDATE stages a mask
over them) those entries scan executor-side via pyarrow.orc with
synthesized per-file ordinals — full positional parity, pushdown
traded away only on those paths; plain ORC reads stay native.

Partition transforms: identity, year/month/day/hour, bucket[N] and
truncate[W] are implemented end-to-end (Column builders + Python
pruning twins in ice_transforms.py, wired into manifest pruning and
write staging); an UNKNOWN transform name refuses loudly.

Declared limits (refuse loudly, never silently wrong): format-version
3+, non-parquet DELETE files and data formats beyond
parquet/ORC/Avro, decimal columns in Avro data files, multi-writer
commit races, equality deletes whose field ids left the current
schema, metadata-only COUNT and adds-only incremental reads over
tables with live delete files.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from archetype_spark.sources import avro_io, ice_transforms, zonemap
from archetype_spark.sources.delta import _scan_snapshot, _stage_data_files

# The Avro data-file scan decodes executor-side (mapInPandas over
# binaryFile content); ship avro_io by value so workers need only
# stdlib + pandas, the same rationale as operators/multimodal.py.
try:  # pyspark vendors cloudpickle; plain cloudpickle as fallback
    from pyspark.cloudpickle import register_pickle_by_value
except ImportError:  # pragma: no cover
    from cloudpickle import register_pickle_by_value

register_pickle_by_value(avro_io)

# The v3 deletion-vector write path serializes roaring bitmaps in
# executors (applyInPandas per masked file); ship the puffin codec
# (and the dv container codec it delegates to) by value too.
from archetype_spark.sources import dv as _dv_mod  # noqa: E402
from archetype_spark.sources import puffin as _puffin_mod  # noqa: E402

register_pickle_by_value(_puffin_mod)
register_pickle_by_value(_dv_mod)

_SPARK_TO_ICE = {
    "long": "long",
    "bigint": "long",
    "int": "int",
    "integer": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    # Iceberg `timestamp` is timezone-free (Spark TIMESTAMP_NTZ);
    # `timestamptz` is the instant type (Spark TIMESTAMP)
    "timestamp_ntz": "timestamp",
    "timestamp": "timestamptz",
}
_ICE_TO_SPARK = {
    "long": "long",
    "int": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "binary": "binary",
    "date": "date",
    "timestamp": "timestamp_ntz",
    "timestamptz": "timestamp",
}
#: avro encoding per iceberg primitive (partition struct fields)
_ICE_TO_AVRO = {
    "long": "long",
    "int": "int",
    "string": "string",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "int",
}


# ----------------------------------------------------------------- metadata IO


def _meta_dir(table: str) -> str:
    return os.path.join(table, "metadata")


def _current_metadata_version(table: str) -> int | None:
    hint = os.path.join(_meta_dir(table), "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as fh:
            return int(fh.read().strip())
    if not os.path.isdir(_meta_dir(table)):
        return None
    versions = [
        int(n[1:].split(".")[0])
        for n in os.listdir(_meta_dir(table))
        if n.startswith("v") and n.endswith(".metadata.json")
    ]
    return max(versions) if versions else None


def _load_metadata(table: str) -> dict:
    v = _current_metadata_version(table)
    if v is None:
        raise FileNotFoundError(f"not an Iceberg table (no metadata): {table}")
    with open(os.path.join(_meta_dir(table), f"v{v}.metadata.json")) as fh:
        meta = json.load(fh)
    fmt = int(meta.get("format-version", 1))
    if fmt not in (1, 2, 3):
        raise NotImplementedError(
            f"Iceberg format-version {meta['format-version']} exceeds "
            "the protocol-native reader; use a connector-enabled cluster"
        )
    if fmt >= 3:
        # v3 features handled here: deletion vectors (puffin.py),
        # minimal row-lineage bookkeeping, and TOP-LEVEL-primitive
        # field defaults (initial-default applies at scan via
        # _with_initial_defaults; write-default never fires because
        # this writer demands the full schema on every append).
        # Defaults this reader cannot APPLY still refuse by name —
        # reading them as null would be silently wrong: a default on
        # a field nested in a struct, or inside a LIST/MAP element
        # (the container walk descends into those too — a default
        # missed there is exactly the silent-wrong the check exists
        # to prevent).
        def walk(fields, where, depth):
            for f in fields or []:
                has_default = (
                    f.get("initial-default") is not None
                    or f.get("write-default") is not None
                )
                t = f.get("type")
                if has_default and (depth > 0 or not isinstance(t, str)):
                    raise NotImplementedError(
                        f"Iceberg v3 field {where}{f.get('name')!r} "
                        "carries a default value on a nested or "
                        "non-primitive field — only top-level "
                        "primitive defaults are applied here; reading "
                        "it as null would be silently wrong"
                    )
                if has_default and f.get("initial-default") is not None:
                    # fail at LOAD, not first scan, if unparseable
                    _parse_ice_default(f["initial-default"], t, f["name"])
                walk_type(t, f"{where}{f.get('name')}.", depth)

        def walk_type(t, where, depth):
            if not isinstance(t, dict):
                return
            kind = t.get("type")
            if kind == "struct":
                walk(t.get("fields"), where, depth + 1)
            elif kind == "list":
                walk_type(t.get("element"), f"{where}element.", depth + 1)
            elif kind == "map":
                walk_type(t.get("key"), f"{where}key.", depth + 1)
                walk_type(t.get("value"), f"{where}value.", depth + 1)

        for s in meta.get("schemas") or [meta.get("schema") or {}]:
            walk(s.get("fields"), "", 0)
    return meta


def _parse_ice_default(v, ice_type, name: str):
    """A v3 single-value JSON default -> the Python literal `F.lit`
    can carry (spec 'JSON single-value serialization'): numbers stay
    numbers, date/timestamp parse from ISO strings, decimal from its
    string form. Unsupported shapes refuse by name at metadata load."""
    import datetime as _dt
    import decimal as _decimal

    try:
        if ice_type in ("int", "long"):
            return int(v)
        if ice_type in ("float", "double"):
            return float(v)
        if ice_type == "boolean":
            return bool(v)
        if ice_type == "string":
            return str(v)
        if ice_type == "date":
            return _dt.date.fromisoformat(v)
        if ice_type == "timestamp":
            return _dt.datetime.fromisoformat(v)
        if ice_type == "timestamptz":
            dt = _dt.datetime.fromisoformat(str(v).replace("Z", "+00:00"))
            return dt
        if isinstance(ice_type, str) and _DECIMAL_RE.match(ice_type):
            return _decimal.Decimal(str(v))
    except (ValueError, TypeError) as e:
        raise NotImplementedError(
            f"Iceberg v3 field {name!r}: default {v!r} does not parse "
            f"as {ice_type!r} ({e})"
        ) from e
    raise NotImplementedError(
        f"Iceberg v3 field {name!r}: defaults of type {ice_type!r} "
        "are not applied here"
    )


def _initial_defaults(ice: dict) -> dict:
    """{field name: (python literal, iceberg type)} for top-level
    fields of the current schema carrying `initial-default` (the only
    default kind that affects READS: files written before the field
    was added read the default, not null)."""
    out = {}
    for f in ice.get("fields") or []:
        if f.get("initial-default") is not None:
            out[f["name"]] = (
                _parse_ice_default(f["initial-default"], f["type"], f["name"]),
                f["type"],
            )
    return out


def _file_column_names(path: str, fmt: str) -> set:
    """Top-level column names physically present in one data file —
    the ground truth the initial-default cohort split keys on (a
    carried-forward manifest is rewritten under the CURRENT schema
    id, so manifest schema metadata cannot distinguish the cohorts)."""
    if fmt == "PARQUET":
        import pyarrow.parquet as pq

        return set(pq.read_schema(path).names)
    if fmt == "ORC":
        from pyarrow import orc as _orc

        return set(_orc.ORCFile(path).schema.names)
    raise NotImplementedError(
        f"initial-default over {fmt} data files is not supported "
        "(footer column-presence probe is parquet/ORC only)"
    )


def _with_initial_defaults(
    spark: SparkSession, scan: DataFrame, meta: dict, by_fmt: dict
) -> DataFrame:
    """Apply the current schema's `initial-default`s to a keep_meta
    scan: files written BEFORE a defaulted field was added read the
    default; files that carry the column keep their values, genuine
    nulls included. A KB-scale (__dv_file -> has-column flags) map
    broadcast-joins on the source-file path — one footer schema probe
    per data file at plan time (driver-side pyarrow, the manifest-
    walk metadata tier; a 100 TB table pays O(files-with-missing-
    columns possible) footer KBs, amortizable by recording the
    writer schema per file, noted in SCALE.md)."""
    ice = _current_ice_schema(meta)
    dmap = _initial_defaults(ice)
    if not dmap:
        return scan
    schema = _ice_schema_to_spark(ice)
    names = sorted(dmap)
    rows = []
    for fmt, entries in by_fmt.items():
        for p, _pv in entries:
            have = _file_column_names(p, fmt)
            rows.append(
                tuple(
                    [os.path.normpath(os.path.abspath(p))]
                    + [n in have for n in names]
                )
            )
    if not rows:
        return scan
    flags = ", ".join(f"`__has_{n}` boolean" for n in names)
    pres = spark.createDataFrame(rows, f"__dv_file string, {flags}")
    scan = scan.join(F.broadcast(pres), "__dv_file", "left")
    for n in names:
        val, _t = dmap[n]
        has = F.col(f"__has_{n}")
        # a join MISS means the probed path and the scan's
        # _metadata-derived path diverged (foreign un-normalized
        # segments) — guessing either way would be silently wrong,
        # so refuse loudly per the module contract
        scan = scan.withColumn(
            n,
            F.when(
                has.isNull(),
                F.raise_error(
                    F.lit(
                        "initial-default presence unresolved for a "
                        "scanned file (path normalization mismatch "
                        "between the manifest and the scan) — "
                        "refusing to guess between null and default"
                    )
                ).cast(schema[n].dataType),
            )
            .when(has, F.col(n))
            .otherwise(F.lit(val).cast(schema[n].dataType)),
        ).drop(f"__has_{n}")
    return scan


_DECIMAL_RE = re.compile(r"^decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)$")
_FIXED_RE = re.compile(r"^fixed\[(\d+)\]$")


def _ice_type_to_spark(t, where: str = ""):
    """One Iceberg schema type (JSON form) -> Spark DataType,
    recursive: primitives plus decimal(P,S), fixed[N] (-> binary;
    Spark's parquet scan reads FIXED_LEN_BYTE_ARRAY into BinaryType),
    struct, list, map. `uuid` refuses by name (its parquet physical
    form is an annotated fixed(16) Spark's vectorized reader maps
    differently per version — reading it as raw bytes could silently
    disagree with a connector's string form)."""
    from pyspark.sql.types import (
        ArrayType,
        BinaryType,
        BooleanType,
        DateType,
        DecimalType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    ctors = {
        "long": LongType,
        "int": IntegerType,
        "string": StringType,
        "double": DoubleType,
        "float": FloatType,
        "boolean": BooleanType,
        "binary": BinaryType,
        "date": DateType,
        "timestamp": TimestampNTZType,
        "timestamptz": TimestampType,
    }
    if isinstance(t, str):
        if t in ctors:
            return ctors[t]()
        m = _DECIMAL_RE.match(t)
        if m:
            return DecimalType(int(m.group(1)), int(m.group(2)))
        m = _FIXED_RE.match(t)
        if m:
            return BinaryType()
        raise NotImplementedError(f"Iceberg type {t!r} ({where or 'field'})")
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return StructType(
                [
                    StructField(
                        f["name"],
                        _ice_type_to_spark(
                            f["type"], f"{where}.{f['name']}"
                        ),
                        not f.get("required", False),
                    )
                    for f in t.get("fields") or []
                ]
            )
        if kind == "list":
            return ArrayType(
                _ice_type_to_spark(t["element"], f"{where}.element"),
                containsNull=not t.get("element-required", False),
            )
        if kind == "map":
            return MapType(
                _ice_type_to_spark(t["key"], f"{where}.key"),
                _ice_type_to_spark(t["value"], f"{where}.value"),
                valueContainsNull=not t.get("value-required", False),
            )
    raise NotImplementedError(f"Iceberg type {t!r} ({where or 'field'})")


def _ice_schema_to_spark(ice: dict) -> StructType:
    from pyspark.sql.types import StructField, StructType

    return StructType(
        [
            StructField(
                f["name"], _ice_type_to_spark(f["type"], f["name"]), True
            )
            for f in ice["fields"]
        ]
    )


def _spark_type_to_ice(dt, alloc):
    """One Spark DataType -> Iceberg schema type (JSON form) with
    spec field-id assignment: `alloc()` yields the next column id.
    Mirrors Iceberg's assignFreshIds order — a struct's direct
    children take ids first, THEN each child's own nested ids — so a
    from-scratch table's ids match what a connector writer would
    assign. Decimal keeps (precision, scale); nested structs, lists
    (element-id) and maps (key-id/value-id) recurse."""
    from pyspark.sql.types import (
        ArrayType,
        DecimalType,
        MapType,
        StructType,
    )

    if isinstance(dt, StructType):
        ids = [alloc() for _ in dt.fields]
        return {
            "type": "struct",
            "fields": [
                {
                    "id": ids[i],
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_type_to_ice(f.dataType, alloc),
                }
                for i, f in enumerate(dt.fields)
            ],
        }
    if isinstance(dt, ArrayType):
        eid = alloc()
        return {
            "type": "list",
            "element-id": eid,
            "element-required": not dt.containsNull,
            "element": _spark_type_to_ice(dt.elementType, alloc),
        }
    if isinstance(dt, MapType):
        kid = alloc()
        key = _spark_type_to_ice(dt.keyType, alloc)
        vid = alloc()
        return {
            "type": "map",
            "key-id": kid,
            "key": key,
            "value-id": vid,
            "value-required": not dt.valueContainsNull,
            "value": _spark_type_to_ice(dt.valueType, alloc),
        }
    if isinstance(dt, DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    s = dt.simpleString()
    if s in _SPARK_TO_ICE:
        return _SPARK_TO_ICE[s]
    raise NotImplementedError(
        f"Spark type {s!r} has no Iceberg mapping here"
    )


def _current_ice_schema(meta: dict) -> dict:
    """The schema the CURRENT snapshot declares — v2-style `schemas`
    list resolved by current-schema-id when present (foreign v1
    writers may have evolved schemas), else the v1 `schema` field.
    Reader and writer both resolve through here so an evolved table
    can never be validated against a stale schema."""
    if "schemas" in meta:
        want = meta.get("current-schema-id", 0)
        return next(s for s in meta["schemas"] if s["schema-id"] == want)
    return meta["schema"]


def _publish_metadata(table: str, meta: dict) -> int:
    """Publish `meta` as the next metadata version: guarded against
    concurrent writers (FileExistsError, same contract as commits),
    then the version-hint rename as the commit point."""
    new_v = (_current_metadata_version(table) or 0) + 1
    mdir = _meta_dir(table)
    mfile = os.path.join(mdir, f"v{new_v}.metadata.json")
    if os.path.exists(mfile):
        raise FileExistsError(
            f"Iceberg metadata v{new_v} already exists (concurrent "
            f"writer?): {mfile}"
        )
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.rename(tmp, mfile)
    tmp = os.path.join(mdir, f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(str(new_v))
    os.rename(tmp, os.path.join(mdir, "version-hint.text"))
    return new_v


def _spec_fields(meta: dict) -> list[dict]:
    """The default partition spec resolved against the current
    schema: [{name, transform, kind, param, source, source_type,
    result_type}] per spec field. Unknown transforms (incl. `void`)
    refuse in parse_transform — treating one as identity would prune
    wrong files."""
    specs = {s["spec-id"]: s for s in meta.get("partition-specs", [])}
    spec = specs.get(meta.get("default-spec-id", 0), {"fields": []})
    by_id = {
        int(f["id"]): f for f in _current_ice_schema(meta)["fields"]
    }
    out = []
    for f in spec["fields"]:
        t = f.get("transform", "identity")
        kind, param = ice_transforms.parse_transform(t)
        src = by_id.get(int(f.get("source-id", -1)))
        if src is None:
            raise NotImplementedError(
                f"partition field {f['name']!r} sources dropped column "
                f"id {f.get('source-id')!r}"
            )
        out.append(
            {
                "name": f["name"],
                "transform": t,
                "kind": kind,
                "param": param,
                "source": src["name"],
                "source_type": src["type"],
                "result_type": ice_transforms.result_ice_type(
                    t, src["type"]
                ),
            }
        )
    return out


def _identity_scan_cols(spec_fields: list[dict]) -> list[str]:
    """The table columns the scan must RECONSTRUCT from partition
    metadata: identity-partitioned sources are hive-encoded out of
    the data files; transform-derived values are not table columns
    (their sources stay in the files)."""
    return [f["source"] for f in spec_fields if f["kind"] == "identity"]


def _part_types(spec_fields: list[dict]) -> dict[str, str]:
    """{spec field name: result Iceberg type} for the manifest
    partition record."""
    return {f["name"]: f["result_type"] for f in spec_fields}


def _strip_scheme(p: str) -> str:
    return p[len("file:") :] if p.startswith("file:") else p


def _abs(table: str, p: str) -> str:
    """Resolve a metadata-recorded path: foreign absolute URIs pass
    through; OUR writer records table-RELATIVE paths (a deliberate,
    documented deviation from the spec's absolute URIs — it makes
    tables relocatable and lets the ensure-builders' atomic
    build-dir-then-rename slot swap work)."""
    p = _strip_scheme(p)
    return p if os.path.isabs(p) else os.path.join(table, p)


# ----------------------------------------------------------------------- read


def snapshots_iceberg(path: str) -> list[dict]:
    """The table's snapshot log: [{snapshot-id, timestamp-ms,
    operation}] oldest-first — the time-travel index."""
    meta = _load_metadata(os.path.abspath(path))
    return [
        {
            "snapshot-id": s["snapshot-id"],
            "timestamp-ms": s.get("timestamp-ms"),
            "operation": (s.get("summary") or {}).get("operation"),
        }
        for s in meta.get("snapshots", [])
    ]


def count_rows_iceberg(path: str, snapshot_id: int | None = None) -> int:
    """COUNT(*) answered purely from manifest metadata — zero data
    file reads. Our writer stamps each data_file's true record_count
    from its parquet footer, so the sum over live manifest entries IS
    the row count; at 100 TB that's O(metadata KB) against a full
    scan. This is the same planner shortcut spec-compliant engines
    take, and it is exactly why a placeholder record_count would be
    silently wrong — so a live entry with a missing/negative count
    (a pre-r9 or foreign writer that didn't track it) raises instead
    of returning a wrong number."""
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    want = (
        snapshot_id
        if snapshot_id is not None
        else meta.get("current-snapshot-id")
    )
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if want is None or want == -1 or not snaps:
        return 0
    if want not in snaps:
        raise FileNotFoundError(
            f"snapshot {want} not in table {table} (have {sorted(snaps)})"
        )
    _schema, manifests = avro_io.read_container(
        _abs(table, snaps[want]["manifest-list"])
    )
    total = 0
    for m in manifests:
        _ms, rows = avro_io.read_container(_abs(table, m["manifest_path"]))
        for r in rows:
            if r.get("status") == 2:  # DELETED
                continue
            if int(r["data_file"].get("content") or 0) != 0:
                # live row-level delete files: the manifests alone
                # cannot answer COUNT (positions may be scoped out by
                # sequence numbers or duplicated across delete files)
                raise ValueError(
                    f"table {table} has live delete files: metadata-"
                    "only COUNT would be wrong — count the scan "
                    "(read_iceberg(...).count()) or compact first"
                )
            rc = r["data_file"].get("record_count")
            if rc is None or rc < 0:
                raise ValueError(
                    f"manifest entry {r['data_file'].get('file_path')!r} "
                    "has no usable record_count: metadata-only COUNT "
                    "would be wrong — rewrite the table or scan the data"
                )
            total += rc
    return total


def _live_entries(
    table: str,
    snap: dict,
    meta: dict | None = None,
    with_bounds: bool = False,
):
    """Walk one snapshot's manifest list. Returns (data, deletes,
    eq_deletes): data = [(abs_path, partition dict, recorded
    file_path, data sequence number, file format)], deletes = [(abs_path, sequence
    number, dv)] for POSITION deletes — dv is None for a v2 parquet
    position-delete file, or {'offset', 'size', 'referenced'} for a
    v3 PUFFIN deletion vector (referenced = the manifest-recorded
    path of the ONE data file it masks), eq_deletes =
    [(abs_path, sequence number, equality_ids tuple, record_count or
    None, scope)] for EQUALITY delete files (v2 content=2). Sequence
    numbers follow the v2 inheritance rule — an entry with no explicit
    number inherits its manifest-list entry's; v1 history reads as
    sequence 0, which is exactly the spec's v1->v2 upgrade semantics.
    An equality delete entry without equality_ids refuses loudly:
    without the field-id list there is nothing to compare, and
    skipping the file would resurrect rows.

    `scope` (needs `meta` to resolve; None otherwise): the spec only
    treats an equality delete as TABLE-GLOBAL when its manifest's
    partition spec is UNPARTITIONED; under a partitioned spec the
    delete applies only to data files in the matching partition, so
    scope is that entry's partition dict. Callers that APPLY equality
    deletes must pass `meta` — applying a partition-scoped delete
    table-wide over-deletes foreign tables' rows."""
    specs_by_id = None
    if meta is not None:
        specs_by_id = {
            int(s["spec-id"]): list(s.get("fields") or [])
            for s in meta.get("partition-specs", [])
        }
    _schema, manifests = avro_io.read_container(
        _abs(table, snap["manifest-list"])
    )
    data, deletes, eq_deletes = [], [], []
    for m in manifests:
        m_seq = m.get("sequence_number")
        m_spec_id = int(m.get("partition_spec_id") or 0)
        _ms, rows = avro_io.read_container(_abs(table, m["manifest_path"]))
        for r in rows:
            if r.get("status") == 2:  # DELETED
                continue
            dfile = r["data_file"]
            seq = r.get("sequence_number")
            if seq is None:
                seq = r.get("data_sequence_number")
            if seq is None:
                seq = m_seq if m_seq is not None else 0
            content = int(dfile.get("content") or 0)
            fmt = str(dfile.get("file_format", "PARQUET")).upper()
            if content == 1 and fmt == "PUFFIN":
                # v3 deletion vector: one blob masking ONE data file
                ref = dfile.get("referenced_data_file")
                off = dfile.get("content_offset")
                size = dfile.get("content_size_in_bytes")
                if ref is None or off is None or size is None:
                    raise ValueError(
                        f"Iceberg DV entry {dfile['file_path']!r} lacks "
                        "referenced_data_file/content_offset/"
                        "content_size_in_bytes — the mask target is "
                        "unresolvable"
                    )
                deletes.append(
                    (
                        _abs(table, dfile["file_path"]),
                        int(seq),
                        {
                            "offset": int(off),
                            "size": int(size),
                            "referenced": str(ref),
                        },
                    )
                )
                continue
            if content != 0 and fmt != "PARQUET":
                raise NotImplementedError(
                    f"Iceberg DELETE file format {fmt!r}: only parquet "
                    "delete files and puffin deletion vectors are "
                    "readable here"
                )
            if content == 0:
                if fmt not in ("PARQUET", "ORC", "AVRO"):
                    raise NotImplementedError(
                        f"Iceberg data format {fmt!r}"
                    )
                entry = (
                    _abs(table, dfile["file_path"]),
                    dict(dfile.get("partition") or {}),
                    dfile["file_path"],
                    int(seq),
                    fmt,
                )
                if with_bounds:
                    # raw manifest bound maps (entry-record arrays or
                    # None) — only the scan_filter prune path asks,
                    # so the common 5-tuple consumers stay untouched
                    entry = entry + (
                        dfile.get("lower_bounds"),
                        dfile.get("upper_bounds"),
                    )
                data.append(entry)
            elif content == 1:
                deletes.append((_abs(table, dfile["file_path"]), int(seq), None))
            elif content == 2:
                ids = dfile.get("equality_ids")
                if not ids:
                    raise NotImplementedError(
                        f"equality delete file {dfile['file_path']!r} "
                        "records no equality_ids: nothing to compare "
                        "on, and skipping it would resurrect rows"
                    )
                scope = None
                if specs_by_id is not None:
                    if m_spec_id in specs_by_id:
                        sfields = specs_by_id[m_spec_id]
                    elif m_spec_id == int(meta.get("default-spec-id", 0)):
                        # legacy metadata without partition-specs:
                        # fall back to the default spec resolution
                        sfields = _spec_fields(meta)
                    else:
                        raise NotImplementedError(
                            f"equality delete manifest references spec "
                            f"id {m_spec_id} absent from the table's "
                            "partition-specs: its scope cannot be "
                            "resolved, and guessing either way loses "
                            "or resurrects rows"
                        )
                    if sfields:  # partitioned spec -> partition scope
                        scope = dict(dfile.get("partition") or {})
                eq_deletes.append(
                    (
                        _abs(table, dfile["file_path"]),
                        int(seq),
                        tuple(int(i) for i in ids),
                        dfile.get("record_count"),
                        scope,
                    )
                )
            else:
                raise NotImplementedError(
                    f"Iceberg delete content kind {content} is not "
                    "supported by the protocol-native reader"
                )
    return data, deletes, eq_deletes


def _part_fp(pv: dict) -> str:
    """Canonical fingerprint of a manifest partition struct — the
    equality-delete scope comparison key. Both sides (data entries,
    delete entries) decode through the same avro reader, so stringified
    values compare consistently."""
    return json.dumps(
        {str(k): (None if v is None else str(v)) for k, v in (pv or {}).items()},
        sort_keys=True,
    )


def _entry_survives_filter(
    pv: dict, scan_filter: dict, spec_fields: list[dict]
) -> bool:
    """Manifest-level partition pruning: can the data file behind
    this entry contain rows matching `scan_filter`? Per spec field
    whose SOURCE column is filtered, map the bound into partition-
    value space with the transform's Python twin and compare against
    the entry's recorded value. Unknown (null) partition values keep
    the file; order-preserving transforms prune ranges, bucket prunes
    equality only. Conservative by construction — the scan re-applies
    the full predicate row-level."""
    for f in spec_fields:
        flt = scan_filter.get(f["source"])
        if flt is None:
            continue
        raw = pv.get(f["name"])
        if raw is None:
            continue
        tv = lambda v: ice_transforms.transform_value(  # noqa: E731
            v, f["transform"], f["source_type"]
        )
        if isinstance(flt, tuple):
            if not ice_transforms.is_order_preserving(f["transform"]):
                continue
            lo, hi = flt
            if lo is not None and raw < tv(lo):
                return False
            # hi is EXCLUSIVE on rows but transform binning makes the
            # hi partition value inclusive (rows just under `hi` land
            # in its bin)
            if hi is not None and raw > tv(hi):
                return False
        elif raw != tv(flt):
            return False
    return True


#: iceberg primitive -> struct format for the spec's binary
#: single-value serialization (Appendix D): little-endian fixed
#: width. Strings/decimals/booleans are deliberately NOT recorded by
#: this writer (parquet string stats may be truncated — pruning on a
#: truncated max would be silently wrong) but string bounds written
#: by FOREIGN writers still decode for the prune.
_BOUND_PACK = {
    "int": "<i",
    "long": "<q",
    "float": "<f",
    "double": "<d",
    "date": "<i",
    "timestamp": "<q",
    "timestamptz": "<q",
}


def _epoch_micros(ts) -> int:
    """Naive datetime -> exact epoch micros from the timedelta's
    integer components. `total_seconds() * 1e6` goes through one
    double, which stops being micro-exact past 2^53 µs (~year 2255 /
    before ~1685) — a wrongly-rounded BOUND can prune a file whose
    true range intersects the probe (ADVICE r16 medium)."""
    import datetime as _dt

    delta = ts - _dt.datetime(1970, 1, 1)
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _bound_bytes(v, ice_type: str) -> bytes | None:
    """One python stats value -> the spec's binary single-value form
    (None = unencodable, record no bound)."""
    import datetime as _dt
    import struct as _struct

    try:
        if ice_type in ("int", "long"):
            return _struct.pack(_BOUND_PACK[ice_type], int(v))
        if ice_type in ("float", "double"):
            return _struct.pack(_BOUND_PACK[ice_type], float(v))
        if ice_type == "date":
            d = v.date() if isinstance(v, _dt.datetime) else v
            return _struct.pack("<i", (d - _dt.date(1970, 1, 1)).days)
        if ice_type in ("timestamp", "timestamptz"):
            ts = v
            if ts.tzinfo is not None:
                ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return _struct.pack("<q", _epoch_micros(ts))
    except (ValueError, OverflowError, _struct.error, AttributeError):
        return None
    return None


def _decode_bound(b: bytes, ice_type: str):
    """Inverse of _bound_bytes into the comparison domain (epoch
    micros/days stay INTEGERS — scan_filter values map through the
    same domain before comparing). Foreign string bounds decode as
    UTF-8. None = undecodable, keep the file."""
    import struct as _struct

    fmtc = _BOUND_PACK.get(ice_type)
    try:
        if fmtc is not None:
            return _struct.unpack(fmtc, bytes(b)[: _struct.calcsize(fmtc)])[0]
        if ice_type == "string":
            return bytes(b).decode("utf-8")
    except (ValueError, _struct.error, UnicodeDecodeError):
        return None
    return None


def _to_bound_domain(v, ice_type: str):
    """A scan_filter value -> the decoded-bound comparison domain
    (dates to epoch days, timestamps to epoch micros, numerics as-is).
    None = incomparable, keep the file."""
    import datetime as _dt

    if v is None:
        return None
    try:
        if ice_type in ("int", "long", "float", "double"):
            return v
        if ice_type == "date":
            d = v.date() if isinstance(v, _dt.datetime) else v
            return (d - _dt.date(1970, 1, 1)).days
        if ice_type in ("timestamp", "timestamptz"):
            ts = v
            if ts.tzinfo is not None:
                ts = ts.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return _epoch_micros(ts)
        if ice_type == "string":
            return str(v)
    except (TypeError, AttributeError):
        return None
    return None


def _bounds_map(raw) -> dict[int, bytes]:
    """A manifest bounds value (entry-record array, spec map form) ->
    {field id: bytes}; tolerant of plain dicts from foreign JSON."""
    out: dict[int, bytes] = {}
    if not raw:
        return out
    if isinstance(raw, dict):
        items = raw.items()
    else:
        items = ((e.get("key"), e.get("value")) for e in raw)
    for k, v in items:
        if k is not None and v is not None:
            out[int(k)] = bytes(v)
    return out


def _entry_survives_bounds(
    lower_raw, upper_raw, scan_filter: dict, field_info: dict
) -> bool:
    """Manifest-level MIN/MAX pruning on ANY primitive column — the
    spec's lower_bounds/upper_bounds maps, the file-skipping layer
    that works WITHOUT a partition spec (a sorted or clustered 100 TB
    table prunes a point/range probe to the few files whose ranges
    intersect). `field_info` maps column name -> (field id, iceberg
    type). Conservative by construction: missing bounds, unknown
    types, or incomparable values keep the file; the scan re-applies
    the full predicate row-level."""
    lower = _bounds_map(lower_raw)
    upper = _bounds_map(upper_raw)
    if not lower and not upper:
        return True
    for col, flt in scan_filter.items():
        info = field_info.get(col)
        if info is None:
            continue
        fid, ice_t = info
        lo_b = _decode_bound(lower[fid], ice_t) if fid in lower else None
        hi_b = _decode_bound(upper[fid], ice_t) if fid in upper else None
        if not zonemap.interval_survives(
            lo_b, hi_b, flt, lambda v: _to_bound_domain(v, ice_t)
        ):
            return False
    return True


def _bounds_fields(abs_path: str, file_format: str, ice_fields: list) -> dict:
    """{'lower_bounds': [...], 'upper_bounds': [...]} manifest values
    for one staged data file, encoded from the parquet footer's
    row-group statistics (zonemap.footer_stats). Footer-only read,
    O(KB) — the same tier as the record_count the entry already
    requires. Empty dict for ORC/AVRO or when nothing is recordable
    (strings and decimals are skipped: parquet may truncate their
    stats and a truncated max prunes wrong)."""
    if file_format.lower() != "parquet":
        return {}
    want = {
        f["name"]: (int(f["id"]), f["type"])
        for f in ice_fields
        if isinstance(f["type"], str) and f["type"] in _BOUND_PACK
    }
    if not want:
        return {}
    _n, mins, maxs, _nulls = zonemap.footer_stats(
        abs_path, want.__contains__
    )
    lower, upper = [], []
    for name, (fid, ice_t) in want.items():
        if name in mins:
            lb = _bound_bytes(mins[name], ice_t)
            ub = _bound_bytes(maxs[name], ice_t)
            if lb is not None and ub is not None:
                lower.append({"key": fid, "value": lb})
                upper.append({"key": fid, "value": ub})
    if not lower:
        return {}
    return {"lower_bounds": lower, "upper_bounds": upper}


def _scan_avro_files(
    spark: SparkSession,
    schema: StructType,
    part_cols: Sequence[str],
    entries: Sequence[tuple[str, dict]],
    keep_meta: bool,
) -> DataFrame:
    """Distributed scan of AVRO data files. This container's Spark
    ships no avro datasource, so files load via binaryFile and decode
    executor-side with the stdlib avro_io codec (Arrow-batched
    mapInPandas, one whole container file per input row — cost scales
    with executor count, never the driver). Synthesized per-file row
    ordinals give Avro entries FULL positional-delete semantics
    (which the native ORC scan cannot offer — it exposes no
    _metadata.row_index).

    Value mapping is driven by the TABLE schema (authoritative):
    Avro longs under timestamp/timestamp_ntz columns are Iceberg
    epoch-micros, date ints are epoch-days; decimals refuse loudly
    (avro_io passes logical types through raw — emitting unscaled
    ints as decimals would be silently wrong). Identity partition
    values come from the manifest (authoritative), matching the
    parquet path's literal-column fallback."""
    import re as _re

    from pyspark.sql.types import LongType, StringType, StructField

    for f in schema.fields:
        kind = f.dataType.simpleString()
        if kind.startswith("decimal"):
            raise NotImplementedError(
                f"Avro data file column {f.name}: decimal decode is "
                "not supported by the stdlib codec (unscaled-int "
                "passthrough would be silently wrong)"
            )
    pv_by_path = {
        _re.sub(r"^[a-zA-Z][\w+.-]*:/+", "/", os.path.abspath(p)): pv
        for p, pv in entries
    }
    target = [(f.name, f.dataType.simpleString()) for f in schema.fields]
    part_set = set(part_cols)

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                ospath = _re.sub(r"^[a-zA-Z][\w+.-]*:/+", "/", path)
                _ws, rows = avro_io.read_container_bytes(
                    bytes(content), name=ospath
                )
                pv = pv_by_path.get(ospath, {})
                out = {}
                for name, kind in target:
                    if name in part_set and all(
                        name not in r for r in rows[:1]
                    ):
                        vals = [pv.get(name)] * len(rows)
                    else:
                        vals = [r.get(name) for r in rows]
                    s = pd.Series(vals, dtype="object")
                    if kind in ("timestamp", "timestamp_ntz"):
                        s = pd.to_datetime(s.astype("Int64"), unit="us")
                    elif kind == "date":
                        s = pd.to_datetime(
                            s.astype("Int64"), unit="D"
                        ).dt.date
                    elif kind == "string":
                        s = s.map(
                            lambda v: v.decode("utf-8")
                            if isinstance(v, (bytes, bytearray))
                            else v
                        )
                    out[name] = s
                frame = pd.DataFrame(out)
                frame["__dv_file"] = ospath
                frame["__dv_ridx"] = range(len(rows))
                yield frame

    out_schema = StructType(
        list(schema.fields)
        + [
            StructField("__dv_file", StringType(), True),
            StructField("__dv_ridx", LongType(), True),
        ]
    )
    blobs = (
        spark.read.format("binaryFile")
        .load([p for p, _pv in entries])
        .select("path", "content")
    )
    df = blobs.mapInPandas(decode, schema=out_schema)
    if not keep_meta:
        df = df.drop("__dv_file", "__dv_ridx")
    return df


def _scan_orc_files_positional(
    spark: SparkSession,
    schema: StructType,
    part_cols: Sequence[str],
    entries: Sequence[tuple[str, dict]],
) -> DataFrame:
    """Executor-side ORC scan with synthesized per-file row ordinals
    (pyarrow.orc over binaryFile payloads): Spark's native ORC scan
    exposes no `_metadata.row_index`, so when POSITIONAL semantics
    must touch ORC entries — applying position-delete files, or
    staging a positional DELETE/UPDATE mask — the files decode in
    executors (one whole file per input row, the Avro-scan pattern)
    and each row gets its physical ordinal. Full positional parity
    with parquet, at the cost of pushdown — paid ONLY on the
    positional paths; plain ORC reads stay on the native JVM scan.
    Identity partition values come from the manifest (authoritative)
    when the data file does not carry the column."""
    import re as _re

    from pyspark.sql.types import LongType, StringType, StructField

    pv_by_path = {
        _re.sub(r"^[a-zA-Z][\w+.-]*:/+", "/", os.path.abspath(p)): pv
        for p, pv in entries
    }
    names = [f.name for f in schema.fields]
    ntz = {
        f.name
        for f in schema.fields
        if f.dataType.simpleString() == "timestamp_ntz"
    }

    def decode(batches):
        import io as _io

        import pandas as pd
        import pyarrow.orc as _orc

        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                ospath = _re.sub(r"^[a-zA-Z][\w+.-]*:/+", "/", path)
                tbl = _orc.ORCFile(_io.BytesIO(bytes(content))).read()
                frame = tbl.to_pandas()
                pv = pv_by_path.get(ospath, {})
                n = len(frame)
                for name in names:
                    if name not in frame.columns:
                        frame[name] = pd.Series(
                            [pv.get(name)] * n, dtype="object"
                        )
                    elif name in ntz and str(
                        frame[name].dtype
                    ).startswith("datetime64[ns,"):
                        # ORC TIMESTAMP comes back zone-tagged from
                        # arrow; NTZ columns store the wall clock
                        frame[name] = frame[name].dt.tz_localize(None)
                frame = frame[names]
                frame["__dv_file"] = ospath
                frame["__dv_ridx"] = range(n)
                yield frame

    out_schema = StructType(
        list(schema.fields)
        + [
            StructField("__dv_file", StringType(), True),
            StructField("__dv_ridx", LongType(), True),
        ]
    )
    blobs = (
        spark.read.format("binaryFile")
        .load([p for p, _pv in entries])
        .select("path", "content")
    )
    return blobs.mapInPandas(decode, schema=out_schema)


def _read_snapshot(
    spark: SparkSession,
    table: str,
    meta: dict,
    snap: dict,
    keep_meta: bool = False,
    scan_filter: dict | None = None,
) -> DataFrame:
    """One snapshot as a DataFrame, position AND equality deletes
    applied. With `keep_meta` the `__dv_file`/`__dv_ridx` columns
    survive (the delete writer's position scan). `scan_filter` (see
    read_iceberg) prunes manifest entries driver-side AND re-applies
    the same predicates to the scan — pruning is an optimization,
    never the correctness boundary."""
    schema = _ice_schema_to_spark(_current_ice_schema(meta))
    spec_fields = _spec_fields(meta)
    if scan_filter:
        unknown = set(scan_filter) - set(schema.fieldNames())
        if unknown:
            raise ValueError(
                f"scan_filter column(s) {sorted(unknown)} not in table "
                f"schema {schema.fieldNames()}"
            )
    data, deletes, eq_deletes = _live_entries(
        table, snap, meta, with_bounds=bool(scan_filter)
    )
    if scan_filter:
        field_info = {
            f["name"]: (int(f["id"]), f["type"])
            for f in _current_ice_schema(meta)["fields"]
            if isinstance(f["type"], str)
        }
        data = [
            e[:5]
            for e in data
            if _entry_survives_filter(e[1], scan_filter, spec_fields)
            and _entry_survives_bounds(e[5], e[6], scan_filter, field_info)
        ]
    if not data:
        df = spark.createDataFrame([], schema)
        if keep_meta:
            df = df.withColumn("__dv_file", F.lit(None).cast("string"))
            df = df.withColumn("__dv_ridx", F.lit(None).cast("bigint"))
        return df
    cols = [f.name for f in schema.fields]
    dmap = _initial_defaults(_current_ice_schema(meta))
    keep = keep_meta or bool(deletes) or bool(eq_deletes) or bool(dmap)
    ident_cols = _identity_scan_cols(spec_fields)
    by_fmt: dict[str, list] = {}
    for p, pv, _rp, _s, fmt in data:
        by_fmt.setdefault(fmt, []).append((p, pv))
    # ORC needs REAL row ordinals when positional semantics touch it:
    # position-delete files to apply, or a caller staging a positional
    # mask (keep_meta). The pyarrow executor-side scan synthesizes
    # them; otherwise ORC stays on the native JVM scan (equality
    # deletes join on values + __dv_file only).
    orc_positional = bool(deletes) or keep_meta
    scans = []
    for fmt in sorted(by_fmt):
        if fmt == "AVRO":
            scans.append(
                _scan_avro_files(spark, schema, ident_cols, by_fmt[fmt], keep)
            )
        elif fmt == "ORC" and orc_positional:
            scans.append(
                _scan_orc_files_positional(
                    spark, schema, ident_cols, by_fmt[fmt]
                )
            )
        else:
            scans.append(
                _scan_snapshot(
                    spark,
                    os.path.join(table, "data"),
                    schema,
                    ident_cols,
                    by_fmt[fmt],
                    keep_meta=keep,
                    fmt=fmt.lower(),
                )
            )
    scan = scans[0]
    for s in scans[1:]:
        scan = scan.unionByName(s)
    if dmap:
        # BEFORE the row-level filter: a predicate over a defaulted
        # column must see the default, not the physical null
        scan = _with_initial_defaults(spark, scan, meta, by_fmt)
    if scan_filter:
        scan = scan.filter(zonemap.scan_filter_predicate(scan_filter))
    seq_df = spark.createDataFrame(
        [
            (os.path.abspath(p), int(s), _part_fp(pv))
            for p, pv, _rp, s, _f in data
        ],
        "__dv_file string, __data_seq bigint, __part_fp string",
    )
    pos_files = [(p, s) for p, s, dvi in deletes if dvi is None]
    dv_entries = [(p, s, dvi) for p, s, dvi in deletes if dvi is not None]
    applicable = None
    if pos_files:
        # positional deletes are parquet (file_path, pos) rows; a
        # delete applies to data files whose data sequence number is
        # <= its own (v2 scoping — rows appended AFTER a delete are
        # untouched). Delete-side work only: the per-file sequence map
        # and the applicable positions both broadcast; the data scan
        # itself never shuffles.
        # ONE scan over every delete file (plan width O(1) in the
        # delete-file count — a mutation-heavy table can carry
        # thousands); each row recovers its own file's sequence
        # number by joining the KB-scale path->seq map on
        # _metadata.file_path
        delseq_df = spark.createDataFrame(
            [(os.path.abspath(p), int(s)) for p, s in pos_files],
            "__del_path string, __del_seq bigint",
        )
        del_raw = (
            spark.read.schema("file_path string, pos long")
            .parquet(*[p for p, _s in pos_files])
            .withColumn(
                "__del_path",
                F.regexp_replace(
                    F.col("_metadata.file_path"), r"^[a-zA-Z][\w+.-]*:/+", "/"
                ),
            )
            .join(F.broadcast(delseq_df), "__del_path")
        )
        norm = F.regexp_replace(
            F.col("file_path"), r"^[a-zA-Z][\w+.-]*:/+", "/"
        )
        norm = F.when(norm.startswith("/"), norm).otherwise(
            F.concat(F.lit(table + os.sep), norm)
        )
        applicable = (
            del_raw.select(
                norm.alias("__dv_file"),
                F.col("pos").alias("__dv_ridx"),
                "__del_seq",
            )
            .join(F.broadcast(seq_df), "__dv_file")
            .filter(F.col("__del_seq") >= F.col("__data_seq"))
            .select("__dv_file", "__dv_ridx")
        )
    if dv_entries:
        # v3 deletion vectors: each masks exactly ONE data file by
        # recorded path — no sequence comparison needed (the
        # reference is explicit). Blobs decode DRIVER-side: a DV is a
        # compressed bitmap, metadata-sized relative to its data file
        # (the Delta DV reader's stance), and the position frame
        # broadcasts. The spec allows one live DV per data file;
        # duplicates refuse — merging could hide a writer bug that
        # lost the replace rule.
        import re as _re

        from archetype_spark.sources import puffin as _puffin

        seen_ref: set[str] = set()
        rows: list[tuple[str, int]] = []
        for p, _s, dvi in dv_entries:
            ref = _re.sub(
                r"^[a-zA-Z][\w+.-]*:/+", "/", str(dvi["referenced"])
            )
            if not ref.startswith("/"):
                ref = os.path.join(table, ref)
            if ref in seen_ref:
                raise ValueError(
                    f"two live deletion vectors reference {ref!r}: the "
                    "v3 spec allows at most one — the writer lost the "
                    "replace rule; refusing rather than guessing"
                )
            seen_ref.add(ref)
            blob = _puffin.read_blob(p, dvi["offset"], dvi["size"])
            rows.extend((ref, int(x)) for x in _puffin.dv_positions(blob))
        dv_df = spark.createDataFrame(
            rows or [("", -1)], "__dv_file string, __dv_ridx bigint"
        )
        applicable = (
            dv_df
            if applicable is None
            else applicable.unionByName(dv_df)
        )
    if applicable is not None:
        scan = scan.join(
            F.broadcast(applicable), ["__dv_file", "__dv_ridx"], "left_anti"
        )
    if eq_deletes:
        scan = _apply_equality_deletes(
            spark, table, meta, scan, seq_df, eq_deletes
        )
    if not keep_meta and keep:
        scan = scan.select(*cols)
    return scan


#: Equality-delete sets at or below this recorded row count broadcast
#: to the anti-join (bigint keys at 1M rows ≈ 8 MB — inside Spark's
#: default auto-broadcast budget); larger or uncounted sets fall back
#: to a shuffled anti-join, which is the right plan anyway once the
#: pending delete set is itself big data.
_EQ_DELETE_BROADCAST_ROWS = 1_000_000


def _apply_equality_deletes(
    spark: SparkSession,
    table: str,
    meta: dict,
    scan: DataFrame,
    seq_df: DataFrame,
    eq_deletes: list,
) -> DataFrame:
    """Apply v2 EQUALITY delete files (content=2) to a data scan.

    Spec semantics (Iceberg table spec, "Scan Planning / Delete
    Files"): a row is deleted when some equality-delete row matches
    it on every column named by the delete file's `equality_ids`,
    with null matching null (IS NOT DISTINCT FROM), and the delete
    file's data sequence number is STRICTLY GREATER than the data
    file's — the strict inequality is what lets a same-sequence
    commit pair an equality delete with the replacement rows it
    inserts (the Flink/CDC upsert shape, `upsert_by_key_iceberg`)
    without the delete swallowing its own inserts. A delete file
    stored under an UNPARTITIONED spec applies table-wide; one stored
    under a partitioned spec applies only to data files in the
    MATCHING partition (`scope` from _live_entries) — applying it
    globally would over-delete rows a spec-compliant engine keeps.

    Shape at scale: one scan over all delete files PER distinct
    equality_ids set (plan width O(#id-sets), not O(#files)); each
    delete row recovers its own sequence number by joining the
    KB-scale path->seq map on `_metadata.file_path`; the data side
    joins the same map once to learn per-row `__data_seq`, then
    anti-joins the delete rows — broadcast when the manifests'
    record_counts bound the set under _EQ_DELETE_BROADCAST_ROWS,
    shuffled otherwise. The data scan itself never reshuffles."""
    import functools
    import operator as op

    fields = _current_ice_schema(meta)["fields"]
    id_to_name = {int(f["id"]): f["name"] for f in fields}
    schema = _ice_schema_to_spark(_current_ice_schema(meta))
    scan = scan.join(F.broadcast(seq_df), "__dv_file")
    groups: dict[tuple, list] = {}
    for p, s, ids, rc, scope in eq_deletes:
        fp = None if scope is None else _part_fp(scope)
        groups.setdefault((ids, fp), []).append((p, s, rc))
    for ids, scope_fp in sorted(groups, key=str):
        entries = groups[(ids, scope_fp)]
        missing = [i for i in ids if i not in id_to_name]
        if missing:
            raise NotImplementedError(
                f"equality delete references field id(s) {missing} "
                "absent from the current schema (dropped-column "
                "deletes are not supported by this reader)"
            )
        eq_cols = [id_to_name[i] for i in ids]
        sub = StructType([schema[c] for c in eq_cols])
        seqs = {int(s) for _p, s, _rc in entries}
        if len(seqs) == 1:
            # every delete file in this group carries the same data
            # sequence number (one commit's deletes): attach it as a
            # literal — no local-relation build, no path recovery, no
            # broadcast join (r17, the r16 hudi path-frame lesson)
            dels = (
                spark.read.schema(sub)
                .parquet(*[p for p, _s, _rc in entries])
                .select(
                    *[F.col(c).alias(f"__eq_{c}") for c in eq_cols],
                    F.lit(next(iter(seqs)))
                    .cast("bigint")
                    .alias("__eq_seq"),
                )
            )
        else:
            delseq_df = spark.createDataFrame(
                [(os.path.abspath(p), int(s)) for p, s, _rc in entries],
                "__eq_path string, __eq_seq bigint",
            )
            dels = (
                spark.read.schema(sub)
                .parquet(*[p for p, _s, _rc in entries])
                .withColumn(
                    "__eq_path",
                    F.regexp_replace(
                        F.col("_metadata.file_path"), r"^[a-zA-Z][\w+.-]*:/+", "/"
                    ),
                )
                .join(F.broadcast(delseq_df), "__eq_path")
                .select(
                    *[F.col(c).alias(f"__eq_{c}") for c in eq_cols], "__eq_seq"
                )
            )
        counts = [rc for _p, _s, rc in entries]
        if all(rc is not None for rc in counts) and (
            sum(counts) <= _EQ_DELETE_BROADCAST_ROWS
        ):
            dels = F.broadcast(dels)
        cond = functools.reduce(
            op.and_,
            [scan[c].eqNullSafe(dels[f"__eq_{c}"]) for c in eq_cols],
        ) & (dels["__eq_seq"] > scan["__data_seq"])
        if scope_fp is not None:
            # partition-scoped delete file: only data files in the
            # matching partition are candidates
            cond = cond & (scan["__part_fp"] == F.lit(scope_fp))
        scan = scan.join(dels, cond, "left_anti")
    return scan.drop("__data_seq", "__part_fp")


def read_iceberg(
    spark: SparkSession,
    path: str,
    snapshot_id: int | None = None,
    scan_filter: dict | None = None,
    with_row_lineage: bool = False,
) -> DataFrame:
    """Read an Iceberg snapshot (current, or `snapshot_id` for time
    travel) without any connector jar — module docstring. Format
    version 2 tables apply POSITION delete files exactly (delete
    manifests walked with sequence-number scoping; positions
    anti-joined on `_metadata.row_index` — the Delta deletion-vector
    plan shape with parquet positions instead of bitmaps) and
    EQUALITY delete files (null-safe value anti-join, strict
    scoping).

    `scan_filter` = {source column: scalar | (lo, hi)} — scalar is
    equality, the tuple a half-open range (lo <= col < hi, None
    unbounds a side). Predicates on PARTITION-TRANSFORM source
    columns prune at the manifest walk — the bound maps through the
    transform into partition-value space, so a time range over a
    day(ts)-partitioned table or a key probe over bucket(N, id)
    skips non-matching files before any parquet is opened: O(manifest
    KB) planning against a 100 TB table, the spec's whole point.
    Predicates on ANY primitive column additionally prune by the
    manifests' per-file lower/upper COLUMN BOUNDS (r15 — recorded by
    this writer from parquet footer stats, decoded from foreign
    writers per the spec's binary single-value form): a sorted or
    range-clustered table prunes a point/range probe to the files
    whose ranges intersect, no partition spec needed. The same
    predicate is ALWAYS re-applied row-level on the scan, so pruning
    can only skip files that cannot match, never change the answer.

    `with_row_lineage` (v3 tables only) appends the spec's derived
    `_row_id` metadata column: each data file's assigned
    first_row_id plus the row's physical position — stable across
    DV deletes (positions never shift) and fresh for rewrite
    replacements. Files written before the v3 upgrade carry no
    first_row_id, so their rows read a NULL id (the spec's
    lazy-assignment state). Cost: the keep_meta scan plus one
    broadcast KB-map join — ORC files route through the pyarrow
    positional scan for real ordinals."""
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    schema = _ice_schema_to_spark(_current_ice_schema(meta))
    want = snapshot_id if snapshot_id is not None else meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if want is None or want == -1 or not snaps:
        return spark.createDataFrame([], schema)
    if want not in snaps:
        raise FileNotFoundError(
            f"snapshot {want} not in table {table} (have {sorted(snaps)})"
        )
    if not with_row_lineage:
        return _read_snapshot(
            spark, table, meta, snaps[want], scan_filter=scan_filter
        )
    if int(meta.get("format-version", 1)) < 3:
        raise ValueError(
            "with_row_lineage needs a format-version 3 table "
            "(upgrade_iceberg first) — below v3 no row ids exist"
        )
    scan = _read_snapshot(
        spark, table, meta, snaps[want], keep_meta=True,
        scan_filter=scan_filter,
    )
    # per-file first_row_id from the snapshot's manifests (KB-scale)
    frids: list[tuple[str, int | None]] = []
    _s, manifests = avro_io.read_container(
        _abs(table, snaps[want]["manifest-list"])
    )
    for m in manifests:
        if int(m.get("content") or 0) != 0:
            continue
        _ms, rows = avro_io.read_container(_abs(table, m["manifest_path"]))
        for r in rows:
            if r.get("status") == 2:
                continue
            df_ = r["data_file"]
            if int(df_.get("content") or 0) != 0:
                continue
            fr = df_.get("first_row_id")
            frids.append(
                (
                    _norm_table_path(table, df_["file_path"]),
                    int(fr) if fr is not None else None,
                )
            )
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    frid_df = spark.createDataFrame(
        frids,
        StructType(
            [
                StructField("__dv_file", StringType(), False),
                StructField("__frid", LongType(), True),
            ]
        ),
    )
    return (
        scan.join(F.broadcast(frid_df), "__dv_file", "left")
        .withColumn(
            "_row_id", (F.col("__frid") + F.col("__dv_ridx")).cast("bigint")
        )
        .drop("__dv_file", "__dv_ridx", "__frid")
    )


# ---------------------------------------------------------------------- write


def _manifest_schema(
    part_cols: Sequence[str], part_types: dict, fmt: int = 1
) -> dict:
    partition_fields = [
        {
            "name": c,
            "type": ["null", _ICE_TO_AVRO[part_types[c]]],
            "default": None,
        }
        for c in part_cols
    ]
    entry_fields = [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
    ]
    data_file_fields = [
        {"name": "file_path", "type": "string"},
        {"name": "file_format", "type": "string"},
        {
            "name": "partition",
            "type": {
                "type": "record",
                "name": "r102",
                "fields": partition_fields,
            },
        },
        {"name": "record_count", "type": "long"},
        {"name": "file_size_in_bytes", "type": "long"},
        # required in v1 (deprecated v2); the spec's
        # historical default split size
        {"name": "block_size_in_bytes", "type": "long"},
        # per-column MIN/MAX (field id -> binary single-value, the
        # spec's map-as-entry-record-array avro form) — the
        # file-skipping layer scan_filter prunes on without a
        # partition spec; optional, absent for ORC/string columns
        {
            "name": "lower_bounds",
            "type": [
                "null",
                {
                    "type": "array",
                    "logicalType": "map",
                    "items": {
                        "type": "record",
                        "name": "lb_kv",
                        "fields": [
                            {"name": "key", "type": "int"},
                            {"name": "value", "type": "bytes"},
                        ],
                    },
                },
            ],
            "default": None,
        },
        {
            "name": "upper_bounds",
            "type": [
                "null",
                {
                    "type": "array",
                    "logicalType": "map",
                    "items": {
                        "type": "record",
                        "name": "ub_kv",
                        "fields": [
                            {"name": "key", "type": "int"},
                            {"name": "value", "type": "bytes"},
                        ],
                    },
                },
            ],
            "default": None,
        },
    ]
    if fmt >= 2:
        # v2 entries carry explicit data/file sequence numbers (null =
        # inherit from the manifest-list entry) and data_file.content
        # (0 data, 1 position deletes, 2 equality deletes); equality
        # delete files additionally record the field ids their rows
        # compare on (null for content 0/1)
        entry_fields += [
            {"name": "sequence_number", "type": ["null", "long"], "default": None},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None},
        ]
        data_file_fields.insert(0, {"name": "content", "type": "int"})
        data_file_fields.append(
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "default": None,
            }
        )
        # v3 additions, all optional: deletion-vector references
        # (content=1 PUFFIN entries) and row-lineage assignment
        data_file_fields += [
            {
                "name": "referenced_data_file",
                "type": ["null", "string"],
                "default": None,
            },
            {
                "name": "content_offset",
                "type": ["null", "long"],
                "default": None,
            },
            {
                "name": "content_size_in_bytes",
                "type": ["null", "long"],
                "default": None,
            },
            {
                "name": "first_row_id",
                "type": ["null", "long"],
                "default": None,
            },
        ]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": entry_fields
        + [
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": data_file_fields,
                },
            },
        ],
    }


#: v1-required block size stamp (the spec's historical 64 MiB default;
#: field is write-required/ignored-on-read in v1, dropped in v2).
_BLOCK_SIZE = 64 * 1024 * 1024

#: matched-position budget the DRIVER will materialize during a
#: row-level DELETE/UPDATE commit (the Iceberg twin of
#: delta.DV_DRIVER_COLLECT_MAX): at or below it the collected probe
#: builds one partition-scoped delete file per partition driver-side;
#: above it the workers write one delete file per masked data file
#: and the driver handles O(files) manifest rows.
POS_DELETE_DRIVER_COLLECT_MAX = 200_000

#: "driver" or "executor" — which position path the last
#: _mask_rows_commit_iceberg took (stress-test instrumentation).
_LAST_MASK_PATH: str | None = None

_MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None},
        # v1-optional summary counts; spec-compliant planners use them
        # to skip manifest reads. null on entries carried forward from
        # manifests written before these were tracked.
        {"name": "added_data_files_count", "type": ["null", "int"], "default": None},
        {"name": "existing_data_files_count", "type": ["null", "int"], "default": None},
        {"name": "deleted_data_files_count", "type": ["null", "int"], "default": None},
        {"name": "added_rows_count", "type": ["null", "long"], "default": None},
        {"name": "existing_rows_count", "type": ["null", "long"], "default": None},
        {"name": "deleted_rows_count", "type": ["null", "long"], "default": None},
    ],
}

#: v2 manifest-list entries additionally carry the manifest content
#: kind (0 data / 1 deletes) and its sequence-number range — null on
#: entries carried forward from the table's v1 history (read as
#: content 0 / sequence 0, the spec's upgrade semantics).
_MANIFEST_LIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": _MANIFEST_LIST_SCHEMA["fields"]
    + [
        {"name": "content", "type": ["null", "int"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"], "default": None},
        {"name": "min_sequence_number", "type": ["null", "long"], "default": None},
    ],
}


def _list_schema(fmt: int) -> dict:
    return _MANIFEST_LIST_SCHEMA_V2 if fmt >= 2 else _MANIFEST_LIST_SCHEMA


def _list_defaults(fmt: int) -> dict:
    """Keys every re-encoded manifest-list entry must carry (entries
    read back from older files may lack the optional fields)."""
    return {
        f["name"]: None
        for f in _list_schema(fmt)["fields"]
        if isinstance(f["type"], list)
    }


#: Back-compat alias (v1 shape), kept for external callers/tests.
_MANIFEST_LIST_DEFAULTS = _list_defaults(1)


def _typed_partition(raw: str | None, ice_type: str):
    if raw is None:
        return None
    if ice_type == "date":
        # hive dirs carry '2024-01-01', the manifest struct wants a
        # day ordinal — creation blocks date partitions; appends to a
        # foreign date-partitioned table refuse rather than crash
        # mid-commit on int('2024-01-01')
        raise NotImplementedError(
            "date identity partitions are not supported by the "
            "protocol-native writer"
        )
    if ice_type in ("long", "int"):
        return int(raw)
    if ice_type == "double" or ice_type == "float":
        return float(raw)
    if ice_type == "boolean":
        return raw.lower() == "true"
    return raw


#: Iceberg source types each transform kind accepts (creation-time
#: validation; the Column builders enforce the same sets).
_TRANSFORM_SOURCES = {
    "identity": ("long", "int", "string", "boolean", "double", "float"),
    "year": ("date", "timestamp", "timestamptz"),
    "month": ("date", "timestamp", "timestamptz"),
    "day": ("date", "timestamp", "timestamptz"),
    "hour": ("timestamp", "timestamptz"),
    "bucket": ("int", "long", "date", "timestamptz"),
    "truncate": ("int", "long", "string"),
}


def _spec_field_name(source: str, transform: str) -> str:
    """Engine-conventional derived-field names: ts -> ts_day,
    id -> id_bucket, v -> v_trunc."""
    kind, _ = ice_transforms.parse_transform(transform)
    if kind == "identity":
        return source
    return f"{source}_{'trunc' if kind == 'truncate' else kind}"


def _stage_spec_files(
    df: DataFrame, data_root: str, spec_fields: list[dict],
    fmt: str = "parquet",
) -> list[dict]:
    """Stage data files under the spec's hive layout: identity fields
    partition by the source column (hive-encoded out of the file
    content, reconstructed at scan from manifest values); transformed
    fields partition by a COMPUTED derived column named by the spec
    field — partitionBy drops the derived value from file content
    while the source column stays, which is exactly the spec's data
    layout. Derived values are pure-codegen Column arithmetic
    (ice_transforms), so a bucketed or day-binned 100 TB ingest pays
    no Python."""
    part_cols = []
    for f in spec_fields:
        if f["kind"] == "identity":
            part_cols.append(f["source"])
            continue
        if f["name"] in df.columns:
            raise ValueError(
                f"derived partition column {f['name']!r} collides with "
                "a data column"
            )
        df = ice_transforms.with_transform_column(
            df, f["name"], f["source"], f["transform"], f["source_type"]
        )
        part_cols.append(f["name"])
    return _stage_data_files(df, data_root, part_cols, fmt=fmt)


def write_iceberg(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: Sequence[str] | None = None,
    properties_update: dict[str, str] | None = None,
    partition_transforms: dict[str, str] | None = None,
    file_format: str = "parquet",
) -> None:
    """Append/overwrite a DataFrame as one Iceberg v1 snapshot
    (single-writer; module docstring). `properties_update` merges
    into the table properties map IN THE SAME metadata version as
    the snapshot — one atomic version-hint commit carries both, which
    is what makes the streaming sink's high-water mark exactly-once
    (properties live in current metadata, immune to snapshot
    expiry, unlike summary stamps on expirable snapshots).

    `partition_transforms` maps a `partition_by` SOURCE column to a
    spec transform ('year'/'month'/'day'/'hour'/'bucket[N]'/
    'truncate[W]'; absent = identity): `partition_by=["ts"],
    partition_transforms={"ts": "day"}` creates the spec field
    `day(ts)` — the layout whose manifest values let
    read_iceberg(scan_filter=...) prune a time range without opening
    a file. Appends must repeat (or omit) the logged spec.

    `file_format` ('parquet' default, or 'orc' — both spec-legal data
    formats, both written by Spark's native JVM writers) is per
    COMMIT: a table may mix formats across snapshots and the reader
    scans each file with its manifest-recorded format. ORC rows gain
    positional-delete semantics through the pyarrow executor-side
    scan (_scan_orc_files_positional) whenever positions matter —
    delete_where/update_where and position-delete application work
    over ORC entries like parquet ones."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if file_format not in ("parquet", "orc"):
        raise ValueError(
            f"file_format must be parquet|orc, got {file_format!r} "
            "(AVRO data files are readable but not written here)"
        )
    table = os.path.abspath(path)
    prev_v = _current_metadata_version(table)
    part_cols = list(partition_by or [])
    transforms = dict(partition_transforms or {})
    unknown_t = set(transforms) - set(part_cols)
    if unknown_t:
        raise ValueError(
            f"partition_transforms for column(s) {sorted(unknown_t)} "
            f"absent from partition_by {part_cols}"
        )

    if prev_v is None:
        import itertools

        counter = itertools.count(1)
        try:
            root = _spark_type_to_ice(df.schema, lambda: next(counter))
        except NotImplementedError as e:
            raise NotImplementedError(f"cannot write Iceberg: {e}") from e
        ice_fields = root["fields"]
        last_column_id = next(counter) - 1
        by_name = {f["name"]: f for f in ice_fields}
        for f in df.schema.fields:
            if f.name in part_cols:
                ice_t = by_name[f.name]["type"]
                if not isinstance(ice_t, str):
                    raise NotImplementedError(
                        f"partition column {f.name}: nested type "
                        f"{f.dataType.simpleString()!r} cannot source a "
                        "partition spec field"
                    )
                t = transforms.get(f.name, "identity")
                kind, _p = ice_transforms.parse_transform(t)
                if ice_t not in _TRANSFORM_SOURCES[kind]:
                    raise NotImplementedError(
                        f"partition column {f.name}: transform {t!r} "
                        f"over type {f.dataType.simpleString()!r} is not "
                        "supported here"
                    )
        field_ids = {f["name"]: f["id"] for f in ice_fields}
        meta = {
            "format-version": 1,
            "table-uuid": str(uuid.uuid4()),
            "location": table,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": last_column_id,
            "schema": {"type": "struct", "schema-id": 0, "fields": ice_fields},
            "schemas": [
                {"type": "struct", "schema-id": 0, "fields": ice_fields}
            ],
            "current-schema-id": 0,
            "partition-spec": [
                {
                    "name": _spec_field_name(c, transforms.get(c, "identity")),
                    "transform": transforms.get(c, "identity"),
                    "source-id": field_ids[c],
                    "field-id": 1000 + i,
                }
                for i, c in enumerate(part_cols)
            ],
            "partition-specs": [
                {
                    "spec-id": 0,
                    "fields": [
                        {
                            "name": _spec_field_name(
                                c, transforms.get(c, "identity")
                            ),
                            "transform": transforms.get(c, "identity"),
                            "source-id": field_ids[c],
                            "field-id": 1000 + i,
                        }
                        for i, c in enumerate(part_cols)
                    ],
                }
            ],
            "default-spec-id": 0,
            "properties": {},
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
        }
    else:
        meta = _load_metadata(table)
        logged = [
            (f["source"], f["transform"]) for f in _spec_fields(meta)
        ]
        given = [(c, transforms.get(c, "identity")) for c in part_cols]
        if part_cols and given != logged:
            raise ValueError(
                f"partition spec {given} != table partitioning {logged}"
            )
        logged_schema = _ice_schema_to_spark(_current_ice_schema(meta))
        have = sorted(
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        )
        want = sorted(
            (f.name, f.dataType.simpleString()) for f in logged_schema.fields
        )
        if have != want:
            raise ValueError(
                f"schema mismatch vs table {table}: writing "
                f"{df.schema.simpleString()} into {logged_schema.simpleString()}"
            )

    spec_fields = _spec_fields(meta)
    part_cols = [f["name"] for f in spec_fields]
    part_types = _part_types(spec_fields)
    data_root = os.path.join(table, "data")
    staged = _stage_spec_files(df, data_root, spec_fields, fmt=file_format)

    # max+1, NOT count+1: after expire_snapshots a count-based id
    # would collide with a retained snapshot (silent data loss via
    # shadowed ids)
    snapshot_id = (
        max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
    )
    # v2 tables (upgraded by delete_where_iceberg): every commit gets
    # the NEXT sequence number — data files appended after a delete
    # carry a higher number than the delete, which is exactly what
    # scopes them out of it
    fmt = int(meta.get("format-version", 1))
    seq = int(meta.get("last-sequence-number", 0)) + 1 if fmt >= 2 else None
    mdir = _meta_dir(table)
    manifest_name = f"manifest-{uuid.uuid4().hex}.avro"
    manifest_path = os.path.join(mdir, manifest_name)
    cur_fields = _current_ice_schema(meta)["fields"]
    entries = []
    for f in staged:
        dfile = {
            "file_path": f"data/{f['rel_path']}",
            "file_format": file_format.upper(),
            "partition": {
                c: _typed_partition(
                    f["partition_values"].get(c), part_types[c]
                )
                for c in part_cols
            },
            "record_count": f["num_rows"],
            "file_size_in_bytes": f["size"],
            "block_size_in_bytes": _BLOCK_SIZE,
            **_bounds_fields(
                os.path.join(data_root, f["rel_path"]),
                file_format,
                cur_fields,
            ),
        }
        e = {"status": 1, "snapshot_id": snapshot_id}  # ADDED
        if fmt >= 2:
            dfile = {"content": 0, **dfile}
            e["sequence_number"] = seq
            e["file_sequence_number"] = seq
        e["data_file"] = dfile
        entries.append(e)
    frid = _assign_row_lineage(meta, entries)
    avro_io.write_container(
        manifest_path, _manifest_schema(part_cols, part_types, fmt), entries
    )

    manifest_entry = {
        "manifest_path": f"metadata/{manifest_name}",
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": sum(f["num_rows"] for f in staged),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    if fmt >= 2:
        manifest_entry.update(
            {"content": 0, "sequence_number": seq, "min_sequence_number": seq}
        )
    if mode == "append" and meta.get("current-snapshot-id", -1) != -1:
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _s, prev = avro_io.read_container(_abs(table, cur["manifest-list"]))
        # entries decoded from pre-counts manifests lack the optional
        # fields; re-encoding under the current schema needs them
        prev_manifests = [{**_list_defaults(fmt), **m} for m in prev]
    else:
        prev_manifests = []
    mlist_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    mlist_path = os.path.join(mdir, mlist_name)
    avro_io.write_container(
        mlist_path, _list_schema(fmt), prev_manifests + [manifest_entry]
    )

    now_ms = int(time.time() * 1000)
    snap_entry = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": now_ms,
        "manifest-list": f"metadata/{mlist_name}",
        "summary": {"operation": mode},
        # the CURRENT schema id, not a hardcoded 0: after an
        # add_column evolution, engines that resolve a snapshot's
        # schema by this stamp must see the evolved schema
        "schema-id": meta.get("current-schema-id", 0),
    }
    if fmt >= 2:
        snap_entry["sequence-number"] = seq
        meta["last-sequence-number"] = seq
    if frid is not None:
        snap_entry["first-row-id"] = frid
    meta["snapshots"].append(snap_entry)
    meta["snapshot-log"].append(
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    )
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now_ms
    if properties_update:
        props = dict(meta.get("properties") or {})
        props.update({str(k): str(v) for k, v in properties_update.items()})
        meta["properties"] = props

    _publish_metadata(table, meta)


def ingest_avro_files(
    path: str,
    avro_paths: Sequence[str],
    partition_values: Sequence[dict] | None = None,
) -> int:
    """Register pre-encoded Avro container files as one APPEND
    snapshot of an existing table — the interop shape for pipelines
    whose upstream (Flink CDC, log shippers) emits Avro: the files
    move under the table untouched and the manifest records
    file_format=AVRO, which read_iceberg scans executor-side (see
    _scan_avro_files; positional deletes fully apply via synthesized
    row ordinals). Each file is decoded ONCE here for its
    authoritative record_count (manifests require it; a placeholder
    would corrupt metadata-only COUNT) — registration cost O(ingested
    bytes) on the driver, never the table. Returns the snapshot id.

    Partitioned tables (identity transforms only): each file must lie
    entirely in ONE partition — its values are VERIFIED against the
    file's own rows (never inferred), or taken from
    `partition_values[i]` (one dict per file) when the rows omit the
    hive-encoded source column. A file spanning two partitions, a
    value disagreeing with the rows, or a transform-derived spec
    (bucket/day/...) refuses loudly — a wrong manifest partition
    record would silently mis-prune forever."""
    import shutil as _shutil

    table = os.path.abspath(path)
    if _current_metadata_version(table) is None:
        raise ValueError(f"no Iceberg table at {table}")
    meta = _load_metadata(table)
    spec_fields = _spec_fields(meta)
    non_identity = [f["name"] for f in spec_fields if f["kind"] != "identity"]
    if non_identity:
        raise NotImplementedError(
            f"ingest_avro_files: transform-derived partition field(s) "
            f"{non_identity} — derived values for foreign files cannot "
            "be computed here; write through write_iceberg instead"
        )
    if partition_values is not None and len(partition_values) != len(
        avro_paths
    ):
        raise ValueError(
            f"partition_values ({len(partition_values)}) must align "
            f"with avro_paths ({len(avro_paths)})"
        )
    schema = _ice_schema_to_spark(_current_ice_schema(meta))
    want = set(schema.fieldNames())
    part_cols = [f["name"] for f in spec_fields]
    staged = []
    for i, p in enumerate(avro_paths):
        _ws, rows = avro_io.read_container(p)
        for r in rows[:1]:
            extra = set(r) - want
            if extra:
                raise ValueError(
                    f"avro file {p!r} carries field(s) {sorted(extra)} "
                    f"absent from the table schema {sorted(want)}"
                )
        claimed = dict(partition_values[i]) if partition_values else {}
        pv = {}
        for f in spec_fields:
            src = f["source"]
            in_rows = bool(rows) and src in rows[0]
            if in_rows:
                vals = {r.get(src) for r in rows}
                if len(vals) != 1:
                    raise ValueError(
                        f"avro file {p!r} spans {len(vals)} values of "
                        f"partition column {src!r}; one file = one "
                        "partition — split upstream"
                    )
                v = next(iter(vals))
                if src in claimed and claimed[src] != v:
                    raise ValueError(
                        f"avro file {p!r}: claimed partition "
                        f"{src}={claimed[src]!r} disagrees with the "
                        f"rows ({v!r})"
                    )
            elif src in claimed:
                v = claimed[src]
            else:
                raise ValueError(
                    f"avro file {p!r} omits partition column {src!r}; "
                    "pass partition_values for it"
                )
            if v is None:
                raise NotImplementedError(
                    f"avro file {p!r}: null partition value for "
                    f"{src!r} is not supported"
                )
            pv[f["name"]] = v
        name = f"ingest-{uuid.uuid4().hex}.avro"
        hive = [
            f"{c}={str(pv[c]).lower() if isinstance(pv[c], bool) else pv[c]}"
            for c in part_cols
        ]
        rel = "/".join(hive + [name]) if hive else name
        dst = os.path.join(table, "data", rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        _shutil.copyfile(p, dst)
        staged.append(
            {
                "rel_path": rel,
                "partition_values": pv,
                "size": os.path.getsize(dst),
                "num_rows": len(rows),
            }
        )
    fmt = int(meta.get("format-version", 1))
    seq = int(meta.get("last-sequence-number", 0)) + 1 if fmt >= 2 else None
    snapshot_id = (
        max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
    )
    mdir = _meta_dir(table)
    manifest_name = f"manifest-{uuid.uuid4().hex}.avro"
    manifest_path = os.path.join(mdir, manifest_name)
    entries = []
    for f in staged:
        dfile = {
            "file_path": f"data/{f['rel_path']}",
            "file_format": "AVRO",
            "partition": f["partition_values"],
            "record_count": f["num_rows"],
            "file_size_in_bytes": f["size"],
            "block_size_in_bytes": _BLOCK_SIZE,
        }
        e = {"status": 1, "snapshot_id": snapshot_id}
        if fmt >= 2:
            dfile = {"content": 0, **dfile}
            e["sequence_number"] = seq
            e["file_sequence_number"] = seq
        e["data_file"] = dfile
        entries.append(e)
    avro_io.write_container(
        manifest_path,
        _manifest_schema(part_cols, _part_types(spec_fields), fmt),
        entries,
    )
    manifest_entry = {
        "manifest_path": f"metadata/{manifest_name}",
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": int(meta.get("default-spec-id", 0)),
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": sum(f["num_rows"] for f in staged),
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
    }
    if fmt >= 2:
        manifest_entry.update(
            {"content": 0, "sequence_number": seq, "min_sequence_number": seq}
        )
    if meta.get("current-snapshot-id", -1) != -1:
        cur = next(
            s
            for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        _s, prev = avro_io.read_container(_abs(table, cur["manifest-list"]))
        prev_manifests = [{**_list_defaults(fmt), **m} for m in prev]
    else:
        prev_manifests = []
    mlist_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    mlist_path = os.path.join(mdir, mlist_name)
    avro_io.write_container(
        mlist_path, _list_schema(fmt), prev_manifests + [manifest_entry]
    )
    now_ms = int(time.time() * 1000)
    snap_entry = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": now_ms,
        "manifest-list": f"metadata/{mlist_name}",
        "summary": {"operation": "append"},
        "schema-id": meta.get("current-schema-id", 0),
    }
    if fmt >= 2:
        snap_entry["sequence-number"] = seq
        meta["last-sequence-number"] = seq
    meta["snapshots"].append(snap_entry)
    meta["snapshot-log"].append(
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    )
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now_ms
    _publish_metadata(table, meta)
    return snapshot_id


# ---------------------------------------------------------------- maintenance


def expire_snapshots_iceberg(path: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest `keep_last` snapshots from the table
    metadata (returns the expired ids) — the metadata half of
    retention, published as a new metadata version through the same
    version-hint commit point. Data files only become deletable once
    no retained snapshot references them; `vacuum_iceberg` does the
    physical half."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    snaps = meta.get("snapshots", [])
    if len(snaps) <= keep_last:
        return []
    expired = [s["snapshot-id"] for s in snaps[:-keep_last]]
    meta["snapshots"] = snaps[-keep_last:]
    meta["snapshot-log"] = [
        e
        for e in meta.get("snapshot-log", [])
        if e["snapshot-id"] not in expired
    ]
    _publish_metadata(table, meta)
    return expired


def vacuum_iceberg(
    path: str,
    spark: SparkSession | None = None,
    distributed: bool = False,
) -> dict:
    """Physically delete data files and manifests no RETAINED
    snapshot references (run expire_snapshots_iceberg first to shrink
    the retained set). Returns {'data_files': n, 'manifests': m}
    deleted. Time travel to an expired snapshot afterwards fails
    loudly (unknown snapshot id), never silently wrong.

    `distributed=True` (requires `spark`) runs the data-dir listing
    and deletion in EXECUTORS (sources/maintenance.py): one task per
    partition directory lists its subtree, candidates anti-join the
    keep frame, a second stage deletes — the shape a 100 TB table
    needs, where the listing itself is the bottleneck. The keep-set
    RESOLUTION (reading retained manifests) stays driver-side: it is
    O(metadata), the same tier as snapshot planning. The metadata
    dir's manifest sweep stays driver-side too (KB files in one
    directory)."""
    if distributed and spark is None:
        raise ValueError("distributed vacuum needs the SparkSession")
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    keep_files: set[str] = set()
    keep_manifests: set[str] = set()
    for s in meta.get("snapshots", []):
        mlist = _abs(table, s["manifest-list"])
        keep_manifests.add(os.path.normpath(mlist))
        _s, manifests = avro_io.read_container(mlist)
        for m in manifests:
            mpath = _abs(table, m["manifest_path"])
            keep_manifests.add(os.path.normpath(mpath))
            _ms, rows = avro_io.read_container(mpath)
            for r in rows:
                if r.get("status") == 2:
                    # DELETED entries (e.g. superseded deletion
                    # vectors) are invisible to every retained read
                    continue
                keep_files.add(
                    os.path.normpath(_abs(table, r["data_file"]["file_path"]))
                )
    deleted = {"data_files": 0, "manifests": 0}
    data_root = os.path.join(table, "data")
    data_suffixes = (".parquet", ".puffin", ".orc", ".avro")
    if distributed:
        from archetype_spark.sources.maintenance import distributed_reclaim

        deleted["data_files"] = distributed_reclaim(
            spark, data_root, keep_files, data_suffixes
        )
    else:
        for root, dirs, files in os.walk(data_root):
            dirs[:] = [d for d in dirs if not d.startswith(".")]
            for name in files:
                if not name.endswith(data_suffixes):
                    continue
                p = os.path.normpath(os.path.join(root, name))
                if p not in keep_files:
                    os.remove(p)
                    deleted["data_files"] += 1
    mdir = _meta_dir(table)
    for name in os.listdir(mdir):
        if not name.endswith(".avro"):
            continue
        p = os.path.normpath(os.path.join(mdir, name))
        if p not in keep_manifests:
            os.remove(p)
            deleted["manifests"] += 1
    return deleted


def merge_iceberg(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> None:
    """MERGE INTO for Iceberg tables — the shared format-neutral
    resolution (sources.delta.resolve_merge) landed as one overwrite
    snapshot: data files are never physically touched, readers keep
    resolving the old snapshot until the version-hint rename, and the
    pre-merge state stays reachable via snapshot time travel (until
    expire+vacuum)."""
    from archetype_spark.sources.delta import resolve_merge

    merged = resolve_merge(
        read_iceberg(spark, path), updates, keys, when_matched, when_not_matched
    )
    write_iceberg(merged, path, mode="overwrite")


def delete_where_iceberg(spark: SparkSession, path: str, condition) -> dict:
    """Row-level `DELETE FROM <table> WHERE condition` as format-v2
    POSITION DELETE FILES — no data file rewritten (the copy-on-write
    alternative is `merge_iceberg(when_matched='delete')`). Matching
    row positions come from a `_metadata.row_index` scan of the
    current snapshot (existing deletes applied first, so repeats are
    exact no-ops); one delete parquet (file_path, pos — the spec's
    position-delete schema) is written PER PARTITION of the affected
    data files and committed through one delete manifest in a new
    snapshot. A v1 table upgrades to format-version 2 in the same
    commit (v1 history reads as sequence 0 per the spec); the new
    delete gets the next sequence number, so data appended LATER
    carries a higher number and is never scoped into it.

    Returns {'rows_deleted', 'delete_files'}.

    Shape at scale: the position scan pushes the predicate into the
    data files; only matched (file, position) pairs reach the driver
    — O(rows this statement deletes), grouped and written as KB-scale
    parquet. Reads pay one small delete-file scan + a broadcast
    anti-join; compact_iceberg later materializes and drops the
    deletes."""
    return _mask_rows_commit_iceberg(spark, path, condition, None)


def update_where_iceberg(
    spark: SparkSession, path: str, condition, set_exprs: dict[str, str]
) -> dict:
    """Row-level `UPDATE ... SET col = expr WHERE condition` the v2
    way — the Iceberg twin of update_where_delta: matched positions
    land in position-delete files while the transformed rows stage as
    new data files, BOTH committed in one snapshot (a delete manifest
    + a data manifest at the same fresh sequence number, so the new
    rows are never scoped into the delete that replaced them).
    `set_exprs` maps column -> SQL expression over the matched rows,
    cast back to the logged type; unknown columns refuse.

    Returns {'rows_updated', 'delete_files', 'files_added'}."""
    return _mask_rows_commit_iceberg(spark, path, condition, set_exprs)


def delete_by_key_iceberg(spark: SparkSession, path: str, keys: DataFrame) -> dict:
    """Row-level delete by VALUE — format-v2 EQUALITY DELETE FILES
    (content=2). `keys` is a DataFrame whose columns name the
    equality columns (any subset of the table schema; values are cast
    to the table's types); every table row matching some key row on
    ALL of them (null matches null) and written at a STRICTLY LOWER
    sequence number is deleted. Nothing is scanned or rewritten: the
    commit cost is O(keys), independent of table size — the reason
    CDC writers (Flink et al.) use this form for streaming deletes
    where a position delete would need a full key->position lookup
    per batch.

    The delete files are written PARTITION-UNSCOPED (the manifest
    entry carries a null partition struct) and apply table-wide —
    the spec's global-delete form. Repeats are exact no-ops at read
    time (the anti-join is idempotent); compact_iceberg materializes
    and drops them.

    Returns {'delete_files', 'delete_keys'}."""
    return _equality_delta_commit_iceberg(spark, path, keys, None)


def upsert_by_key_iceberg(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    properties_update: dict[str, str] | None = None,
) -> dict:
    """Streaming-CDC upsert — ONE v2 snapshot holding an equality
    delete on `keys` (the update rows' key values) AND the update
    rows as new data files, both at the same fresh sequence number.
    The spec's strict scoping rule (an equality delete applies only
    to data at a strictly LOWER sequence) is what makes this shape
    work: the delete kills every older row with a matching key while
    the same-commit inserts escape it. Unlike merge_iceberg (which
    rewrites the whole table as one overwrite snapshot), the commit
    cost here is O(updates) — the Flink upsert-sink shape, and the
    only MERGE form that stays cheap when 100 TB of table meets a
    KB-scale CDC batch.

    `properties_update` merges into the table properties IN THE SAME
    metadata commit as the upsert (the write_iceberg convention) —
    the exactly-once handshake Iceberg mirrors written by `replicate`
    use for their high-water marks.

    Returns {'delete_files', 'delete_keys', 'files_added',
    'rows_inserted'}."""
    missing = [k for k in keys if k not in updates.columns]
    if missing:
        raise ValueError(
            f"upsert keys {missing} absent from the updates frame "
            f"(has {updates.columns})"
        )
    return _equality_delta_commit_iceberg(
        spark,
        path,
        updates.select(*keys),
        updates,
        properties_update=properties_update,
    )


def apply_cdc_iceberg(
    spark: SparkSession,
    path: str,
    deletes: DataFrame,
    upserts: DataFrame,
    keys: Sequence[str],
    properties_update: dict[str, str] | None = None,
) -> dict:
    """Apply one CDC batch — deletes AND upserts — as ONE v2 snapshot:
    the equality-delete file covers every key in `deletes` (a key-only
    frame) plus every upsert key; the upsert rows land as data files
    at the same sequence number (strict scoping shields them from
    their own delete). The one-commit shape is what makes a mixed
    batch atomic: no reader ever sees the deletes applied without the
    inserts or vice versa. `properties_update` rides the same commit
    (exactly-once high-water marks). Returns the upsert engine's
    counts; `delete_keys` counts the UNION of deleted and upserted
    keys (what the delete file physically holds)."""
    missing = [k for k in keys if k not in upserts.columns]
    missing_d = [k for k in keys if k not in deletes.columns]
    if missing or missing_d:
        raise ValueError(
            f"CDC keys {missing or missing_d} absent from the "
            f"{'upserts' if missing else 'deletes'} frame"
        )
    del_keys = upserts.select(*keys).unionByName(deletes.select(*keys))
    return _equality_delta_commit_iceberg(
        spark, path, del_keys, upserts, properties_update=properties_update
    )


def _equality_delta_commit_iceberg(
    spark: SparkSession,
    path: str,
    keys: DataFrame,
    inserts: DataFrame | None,
    properties_update: dict[str, str] | None = None,
) -> dict:
    """Shared engine for delete_by_key_iceberg / upsert_by_key_iceberg
    (see the public faces for semantics)."""
    table = os.path.abspath(path)
    if _current_metadata_version(table) is None:
        # table does not exist yet: a delete is a no-op, an upsert
        # bootstraps the table as a plain create-append
        out = {"delete_files": 0, "delete_keys": 0}
        if inserts is not None:
            write_iceberg(
                inserts, table, properties_update=properties_update
            )
            meta2 = _load_metadata(table)
            snap2 = {s["snapshot-id"]: s for s in meta2["snapshots"]}[
                meta2["current-snapshot-id"]
            ]
            out["files_added"] = len(_live_entries(table, snap2)[0])
            out["rows_inserted"] = count_rows_iceberg(table)
        return out
    meta = _load_metadata(table)
    ice = _current_ice_schema(meta)
    schema = _ice_schema_to_spark(ice)
    name_to_id = {f["name"]: int(f["id"]) for f in ice["fields"]}
    spec_fields = _spec_fields(meta)
    part_cols = [f["name"] for f in spec_fields]
    part_types = _part_types(spec_fields)
    key_cols = list(keys.columns)
    unknown = [c for c in key_cols if c not in name_to_id]
    if not key_cols or unknown:
        raise ValueError(
            f"equality-delete key columns {unknown or '[]'} not in table "
            f"schema {sorted(name_to_id)}"
        )
    # the delete rows must carry the TABLE's column types (the reader
    # compares them against the data scan verbatim)
    keys = keys.select(
        *[F.col(c).cast(schema[c].dataType).alias(c) for c in key_cols]
    ).dropDuplicates()
    if inserts is not None:
        extra = set(inserts.columns) - set(schema.fieldNames())
        if extra:
            raise ValueError(
                f"upsert frame has column(s) {sorted(extra)} absent from "
                f"the table schema {schema.fieldNames()}"
            )
        inserts = inserts.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                if f.name in inserts.columns
                else F.lit(None).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
    out = {"delete_files": 0, "delete_keys": 0}
    if inserts is not None:
        out.update(files_added=0, rows_inserted=0)
    want = meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if want is None or want == -1 or not snaps:
        # empty table: nothing for a delete to hit; an upsert
        # degenerates to a plain append
        if inserts is not None:
            write_iceberg(
                inserts,
                table,
                mode="append",
                properties_update=properties_update,
            )
            meta2 = _load_metadata(table)
            snap2 = {s["snapshot-id"]: s for s in meta2["snapshots"]}[
                meta2["current-snapshot-id"]
            ]
            out["files_added"] = len(_live_entries(table, snap2)[0])
            out["rows_inserted"] = count_rows_iceberg(table)
        return out
    if int(meta.get("format-version", 1)) == 1:
        meta["format-version"] = 2
        meta.setdefault("last-sequence-number", 0)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
    )
    data_root = os.path.join(table, "data")
    mdir = _meta_dir(table)
    eq_ids = [name_to_id[c] for c in key_cols]
    # spec rule (Iceberg table spec, "Delete Files"): an equality
    # delete is TABLE-GLOBAL only when stored under an UNPARTITIONED
    # spec — under a partitioned spec it scopes to one partition, and
    # spec-compliant engines would apply an all-null-partition delete
    # only to null-partition data files (resurrecting rows). Register
    # an unpartitioned spec once and stamp the delete manifest with it.
    unpart_spec_id = 0
    if part_cols:
        specs = list(meta.get("partition-specs") or [])
        empties = [s for s in specs if not (s.get("fields") or [])]
        if empties:
            unpart_spec_id = int(empties[0]["spec-id"])
        else:
            unpart_spec_id = (
                max((int(s["spec-id"]) for s in specs), default=-1) + 1
            )
            specs.append({"spec-id": unpart_spec_id, "fields": []})
            meta["partition-specs"] = specs
    del_entries = []
    for f in _stage_data_files(keys, data_root, []):
        if f["num_rows"] == 0:
            os.remove(os.path.join(data_root, f["rel_path"]))
            continue
        del_entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 2,  # EQUALITY DELETES
                    "file_path": f"data/{f['rel_path']}",
                    "file_format": "PARQUET",
                    # empty partition struct: the unpartitioned spec's
                    # table-global form
                    "partition": {},
                    "record_count": f["num_rows"],
                    "file_size_in_bytes": f["size"],
                    "block_size_in_bytes": _BLOCK_SIZE,
                    "equality_ids": eq_ids,
                },
            }
        )
        out["delete_files"] += 1
        out["delete_keys"] += f["num_rows"]
    new_manifests = []
    if del_entries:
        man_name = f"manifest-{uuid.uuid4().hex}.avro"
        man_path = os.path.join(mdir, man_name)
        avro_io.write_container(
            man_path, _manifest_schema([], {}, 2), del_entries
        )
        new_manifests.append(
            {
                "manifest_path": f"metadata/{man_name}",
                "manifest_length": os.path.getsize(man_path),
                "partition_spec_id": unpart_spec_id,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(del_entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": out["delete_keys"],
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "content": 1,  # DELETES manifest
                "sequence_number": seq,
                "min_sequence_number": seq,
            }
        )
    frid: int | None = None
    if inserts is not None:
        data_entries = []
        for f in _stage_spec_files(inserts, data_root, spec_fields):
            data_entries.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": f"data/{f['rel_path']}",
                        "file_format": "PARQUET",
                        "partition": {
                            c: _typed_partition(
                                f["partition_values"].get(c), part_types[c]
                            )
                            for c in part_cols
                        },
                        "record_count": f["num_rows"],
                        "file_size_in_bytes": f["size"],
                        "block_size_in_bytes": _BLOCK_SIZE,
                        **_bounds_fields(
                            os.path.join(data_root, f["rel_path"]),
                            "parquet",
                            _current_ice_schema(meta)["fields"],
                        ),
                    },
                }
            )
            out["files_added"] += 1
            out["rows_inserted"] += f["num_rows"]
        frid = _assign_row_lineage(meta, data_entries)
        if data_entries:
            dman_name = f"manifest-{uuid.uuid4().hex}.avro"
            dman_path = os.path.join(mdir, dman_name)
            avro_io.write_container(
                dman_path,
                _manifest_schema(part_cols, part_types, 2),
                data_entries,
            )
            new_manifests.append(
                {
                    "manifest_path": f"metadata/{dman_name}",
                    "manifest_length": os.path.getsize(dman_path),
                    "partition_spec_id": 0,
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": len(data_entries),
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": 0,
                    "added_rows_count": out["rows_inserted"],
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                    "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                }
            )
    if frid is None:
        frid = _assign_row_lineage(meta, [])
    if properties_update:
        props = dict(meta.get("properties") or {})
        props.update({str(k): str(v) for k, v in properties_update.items()})
        meta["properties"] = props
    if not new_manifests:
        if properties_update:
            # nothing to upsert but a high-water mark to advance: a
            # metadata-only properties commit keeps the exactly-once
            # window closed across empty source batches
            meta["last-updated-ms"] = int(time.time() * 1000)
            _publish_metadata(table, meta)
        return out
    _commit_row_delta_snapshot(
        table,
        meta,
        snaps[want],
        new_manifests,
        seq,
        snapshot_id,
        "delete" if inserts is None else "overwrite",
        first_row_id=frid,
    )
    return out


def _mask_rows_commit_iceberg(
    spark: SparkSession, path: str, condition, set_exprs: dict[str, str] | None
) -> dict:
    """Shared DELETE/UPDATE engine (see the two public faces)."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    table = os.path.abspath(path)
    meta = _load_metadata(table)
    spec_fields = _spec_fields(meta)
    part_cols = [f["name"] for f in spec_fields]
    part_types = _part_types(spec_fields)
    schema = _ice_schema_to_spark(_current_ice_schema(meta))
    rows_key = "rows_deleted" if set_exprs is None else "rows_updated"
    out = {rows_key: 0, "delete_files": 0}
    if set_exprs is not None:
        out["files_added"] = 0
        unknown = set(set_exprs) - set(schema.fieldNames())
        if unknown:
            raise ValueError(
                f"UPDATE sets unknown column(s) {sorted(unknown)}; table "
                f"has {schema.fieldNames()}"
            )
    want = meta.get("current-snapshot-id")
    snaps = {s["snapshot-id"]: s for s in meta.get("snapshots", [])}
    if want is None or want == -1 or not snaps:
        return out
    snap = snaps[want]
    data, _existing, _eq = _live_entries(table, snap)
    if not data:
        return out
    matched_df = _read_snapshot(
        spark, table, meta, snap, keep_meta=True
    ).filter(condition)
    pos = matched_df.select("__dv_file", "__dv_ridx")
    probe = pos.limit(POS_DELETE_DRIVER_COLLECT_MAX + 1).collect()
    if not probe:
        return out
    staged: list[dict] = []
    if set_exprs is not None:
        updated = matched_df
        for col, expr in set_exprs.items():
            updated = updated.withColumn(
                col, F.expr(expr).cast(schema[col].dataType)
            )
        staged = _stage_spec_files(
            updated.select(*[f.name for f in schema.fields]),
            os.path.join(table, "data"),
            spec_fields,
        )
    # the delete file must reference data files by their RECORDED
    # manifest path strings (spec rule); each delete file is
    # partition-scoped (stamped with its data files' partition)
    # ORC entries scan through the pyarrow positional path under
    # keep_meta (_read_snapshot), so their __dv_ridx values here are
    # REAL physical ordinals — the mask records correct positions.
    info = {os.path.abspath(p): (rp, pv) for p, pv, rp, _s, _f in data}

    if int(meta.get("format-version", 1)) == 1:
        meta["format-version"] = 2
        meta.setdefault("last-sequence-number", 0)
    seq = int(meta.get("last-sequence-number", 0)) + 1
    snapshot_id = (
        max((s["snapshot-id"] for s in meta["snapshots"]), default=0) + 1
    )
    data_root = os.path.join(table, "data")
    mdir = _meta_dir(table)
    os.makedirs(data_root, exist_ok=True)
    # (partition key tuple, delete file name, positions, size) — the
    # driver path writes one delete file per PARTITION from the
    # collected probe; the executor path (a wide DELETE/UPDATE WHERE
    # past the probe cap) writes one per masked DATA FILE from the
    # workers (spec-legal: a partition may carry many position-delete
    # files) and the driver handles O(masked files) descriptor rows,
    # never the position set.
    global _LAST_MASK_PATH
    fmt_v = int(meta.get("format-version", 1))
    carry_manifests = None
    dv_entries_v3: list[dict] | None = None
    if fmt_v >= 3:
        # v3 forbids NEW position-delete files: the mask lands as
        # deletion vectors in one puffin file (_build_dv_commit),
        # merging and superseding each masked file's existing DV
        dv_entries_v3, carry_manifests, n_new, n_dv = _build_dv_commit(
            spark, table, meta, snap, pos, probe, info, part_cols,
            seq, snapshot_id, data_root,
        )
        out[rows_key] += n_new
        out["delete_files"] += n_dv
    del_files: list[tuple[tuple, str, int, int]] = []
    if fmt_v < 3 and len(probe) <= POS_DELETE_DRIVER_COLLECT_MAX:
        _LAST_MASK_PATH = "driver"
        by_part: dict[tuple, list[tuple[str, int]]] = {}
        for r in probe:
            rp, pv = info[r["__dv_file"]]
            key = tuple(pv.get(c) for c in part_cols)
            by_part.setdefault(key, []).append((rp, int(r["__dv_ridx"])))
        for key, pairs in sorted(by_part.items(), key=lambda kv: str(kv[0])):
            pairs.sort()
            name = f"delete-{uuid.uuid4().hex}.parquet"
            dpath = os.path.join(data_root, name)
            papq.write_table(
                pa.table(
                    {
                        "file_path": pa.array(
                            [p for p, _ in pairs], pa.string()
                        ),
                        "pos": pa.array([i for _, i in pairs], pa.int64()),
                    }
                ),
                dpath,
            )
            del_files.append(
                (key, name, len(pairs), os.path.getsize(dpath))
            )
    elif fmt_v < 3:
        _LAST_MASK_PATH = "executor"
        part_ids: dict[tuple, int] = {}
        ref_by_abs: dict[str, tuple[str, int]] = {}
        for p_abs, (rp, pv) in info.items():
            key = tuple(pv.get(c) for c in part_cols)
            pid = part_ids.setdefault(key, len(part_ids))
            ref_by_abs[p_abs] = (rp, pid)
        key_by_id = {pid: key for key, pid in part_ids.items()}
        refs = spark.sparkContext.broadcast(ref_by_abs)
        root = data_root

        def build(pdf):
            import uuid as _uuid

            import numpy as np
            import pandas as pd
            import pyarrow as _pa
            import pyarrow.parquet as _papq

            rp, pid = refs.value[pdf["__dv_file"].iat[0]]
            positions = np.unique(pdf["__dv_ridx"].to_numpy(dtype="int64"))
            name = f"delete-{_uuid.uuid4().hex}.parquet"
            dpath = os.path.join(root, name)
            _papq.write_table(
                _pa.table(
                    {
                        "file_path": _pa.array(
                            [rp] * len(positions), _pa.string()
                        ),
                        "pos": _pa.array(positions, _pa.int64()),
                    }
                ),
                dpath,
            )
            return pd.DataFrame(
                [[pid, name, int(positions.size), os.path.getsize(dpath)]],
                columns=["part_id", "name", "n", "size"],
            )

        rows = (
            pos.groupBy("__dv_file")
            .applyInPandas(
                build, "part_id int, name string, n bigint, size bigint"
            )
            .collect()
        )
        for r in sorted(rows, key=lambda r: r["name"]):
            del_files.append(
                (key_by_id[int(r["part_id"])], r["name"], int(r["n"]), int(r["size"]))
            )
    del_entries = list(dv_entries_v3 or [])
    for key, name, n_pos, fsize in del_files:
        out[rows_key] += n_pos
        out["delete_files"] += 1
        del_entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,  # POSITION DELETES
                    "file_path": f"data/{name}",
                    "file_format": "PARQUET",
                    "partition": dict(zip(part_cols, key)),
                    "record_count": n_pos,
                    "file_size_in_bytes": fsize,
                    "block_size_in_bytes": _BLOCK_SIZE,
                },
            }
        )
    manifest_name = f"manifest-{uuid.uuid4().hex}.avro"
    manifest_path = os.path.join(mdir, manifest_name)
    avro_io.write_container(
        manifest_path, _manifest_schema(part_cols, part_types, 2), del_entries
    )
    manifest_entry = {
        "manifest_path": f"metadata/{manifest_name}",
        "manifest_length": os.path.getsize(manifest_path),
        "partition_spec_id": 0,
        "added_snapshot_id": snapshot_id,
        "added_data_files_count": len(del_entries),
        "existing_data_files_count": 0,
        "deleted_data_files_count": 0,
        "added_rows_count": out[rows_key],
        "existing_rows_count": 0,
        "deleted_rows_count": 0,
        "content": 1,  # DELETES manifest
        "sequence_number": seq,
        "min_sequence_number": seq,
    }
    new_manifests = [manifest_entry]
    frid: int | None = None
    if staged:
        # the UPDATE's replacement rows: a DATA manifest at the SAME
        # sequence number (the v2 row-delta commit shape). The
        # same-commit delete cannot mask them even at equal sequence:
        # position deletes address (file_path, pos) pairs, and these
        # pairs reference only the OLD files' recorded paths — the
        # staged replacements are brand-new paths.
        data_entries = []
        for f in staged:
            data_entries.append(
                {
                    "status": 1,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": 0,
                        "file_path": f"data/{f['rel_path']}",
                        "file_format": "PARQUET",
                        "partition": {
                            c: _typed_partition(
                                f["partition_values"].get(c), part_types[c]
                            )
                            for c in part_cols
                        },
                        "record_count": f["num_rows"],
                        "file_size_in_bytes": f["size"],
                        "block_size_in_bytes": _BLOCK_SIZE,
                        **_bounds_fields(
                            os.path.join(data_root, f["rel_path"]),
                            "parquet",
                            _current_ice_schema(meta)["fields"],
                        ),
                    },
                }
            )
            out["files_added"] += 1
        frid = _assign_row_lineage(meta, data_entries)
        dman_name = f"manifest-{uuid.uuid4().hex}.avro"
        dman_path = os.path.join(mdir, dman_name)
        avro_io.write_container(
            dman_path, _manifest_schema(part_cols, part_types, 2), data_entries
        )
        new_manifests.append(
            {
                "manifest_path": f"metadata/{dman_name}",
                "manifest_length": os.path.getsize(dman_path),
                "partition_spec_id": 0,
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": len(data_entries),
                "existing_data_files_count": 0,
                "deleted_data_files_count": 0,
                "added_rows_count": sum(f["num_rows"] for f in staged),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "content": 0,
                "sequence_number": seq,
                "min_sequence_number": seq,
            }
        )
    if frid is None:
        frid = _assign_row_lineage(meta, [])
    _commit_row_delta_snapshot(
        table,
        meta,
        snap,
        new_manifests,
        seq,
        snapshot_id,
        "delete" if set_exprs is None else "overwrite",
        carry_manifests=carry_manifests,
        first_row_id=frid,
    )
    return out


def _assign_row_lineage(meta: dict, data_entries: list[dict]) -> int | None:
    """v3 row-lineage bookkeeping: give each new data file an explicit
    first_row_id from the table's next-row-id counter and advance it;
    returns the snapshot's first-row-id (None below v3). Row ids
    themselves stay derived (first_row_id + position), per the spec —
    nothing is materialized into data files."""
    if int(meta.get("format-version", 1)) < 3:
        return None
    frid = rid = int(meta.get("next-row-id", 0))
    for e in data_entries:
        e["data_file"]["first_row_id"] = rid
        rid += int(e["data_file"]["record_count"])
    meta["next-row-id"] = rid
    return frid


def _norm_table_path(table: str, p: str) -> str:
    """Scheme-stripped absolute OS path for a manifest-recorded (or
    URI) file path — the comparison key DV references resolve by."""
    import re as _re

    p = _re.sub(r"^[a-zA-Z][\w+.-]*:/+", "/", str(p))
    return p if p.startswith("/") else os.path.join(table, p)


def _build_dv_commit(
    spark: SparkSession,
    table: str,
    meta: dict,
    snap: dict,
    pos: DataFrame,
    probe: list,
    info: dict,
    part_cols: Sequence[str],
    seq: int,
    snapshot_id: int,
    data_root: str,
) -> tuple[list[dict], list[dict] | None, int, int]:
    """The v3 positional mask: ONE puffin file holding one
    deletion-vector blob per masked data file. Spec rules implemented:
    a new DV MERGES the file's existing DV (and any v2 position-delete
    rows recorded for that file — an upgraded table's legacy deletes),
    and the superseded DV's manifest entry marks DELETED in a
    rewritten carry manifest (at most one live DV per data file).
    Returns (del_entries, carry_manifests, n_new_positions, n_files).

    Scale shape mirrors the v2 path: under the probe cap positions
    group driver-side; past it executors build each file's serialized
    bitmap (applyInPandas per __dv_file) and the driver handles one
    compressed blob per masked FILE — never the position set. DV
    blobs are compressed bitmaps, metadata-sized relative to their
    data files (the Delta DV stance)."""
    from archetype_spark.sources import puffin as _puffin

    global _LAST_MASK_PATH
    data, deletes, _eq = _live_entries(table, snap, meta)
    abs_by_recorded = {rp: os.path.abspath(p) for p, _pv, rp, _s, _f in data}
    # existing DVs by the NORMALIZED abs path of their referenced file
    dv_by_ref: dict[str, tuple[str, dict]] = {}
    pos_files = []
    for p, _s, dvi in deletes:
        if dvi is None:
            pos_files.append(p)
        else:
            dv_by_ref[_norm_table_path(table, dvi["referenced"])] = (p, dvi)

    # ---- per-file NEW positions
    new_by_abs: dict[str, list[int]] = {}
    blob_by_abs: dict[str, bytes] = {}
    n_new = 0
    if len(probe) <= POS_DELETE_DRIVER_COLLECT_MAX:
        _LAST_MASK_PATH = "driver"
        for r in probe:
            new_by_abs.setdefault(r["__dv_file"], []).append(
                int(r["__dv_ridx"])
            )
    else:
        _LAST_MASK_PATH = "executor"

        def build(pdf):
            import numpy as np
            import pandas as pd

            positions = np.unique(pdf["__dv_ridx"].to_numpy(dtype="int64"))
            return pd.DataFrame(
                {
                    "f": [pdf["__dv_file"].iat[0]],
                    "blob": [
                        _puffin.roaring64_portable_serialize(positions)
                    ],
                    "n": [int(positions.size)],
                }
            )

        for r in (
            pos.groupBy("__dv_file")
            .applyInPandas(build, "f string, blob binary, n bigint")
            .collect()
        ):
            blob_by_abs[r["f"]] = bytes(r["blob"])
            n_new += int(r["n"])
    masked_abs = sorted(set(new_by_abs) | set(blob_by_abs))

    # ---- existing positions to merge (per masked file only)
    existing: dict[str, set[int]] = {}
    replaced_refs: set[str] = set()
    for a in masked_abs:
        hit = dv_by_ref.get(a)
        if hit is not None:
            p, dvi = hit
            blob = _puffin.read_blob(p, dvi["offset"], dvi["size"])
            existing.setdefault(a, set()).update(
                _puffin.dv_positions(blob)
            )
            replaced_refs.add(a)
    if pos_files:
        # legacy v2 position-delete rows for the masked files fold
        # into the new DVs (the upgrade-merge rule); the delete files
        # themselves stay carried — our reader dedups identical
        # positions, DV-preferring readers see the merged mask
        recorded_masked = {
            rp
            for rp, a in abs_by_recorded.items()
            if a in set(masked_abs)
        }
        rows = (
            spark.read.schema("file_path string, pos long")
            .parquet(*pos_files)
            .filter(F.col("file_path").isin(sorted(recorded_masked)))
            .collect()
        )
        for r in rows:
            a = abs_by_recorded.get(r["file_path"])
            if a is not None:
                existing.setdefault(a, set()).add(int(r["pos"]))

    # ---- final blob per file
    blobs: list[dict] = []
    entries_meta: list[tuple[str, int]] = []  # (abs path, cardinality)
    for a in masked_abs:
        if a in new_by_abs:
            newpos = set(new_by_abs[a])
            n_new += len(newpos)
            final = sorted(newpos | existing.get(a, set()))
        elif existing.get(a):
            final = sorted(
                set(
                    _puffin.roaring64_portable_deserialize(blob_by_abs[a])
                )
                | existing[a]
            )
        else:
            final = None  # executor blob is already the full mask
        rp = info[a][0]
        if final is not None:
            data_blob = _puffin.dv_blob(final)
            card = len(final)
        else:
            vec = blob_by_abs[a]
            body = _puffin.DV_MAGIC + vec
            import struct as _struct

            data_blob = (
                _struct.pack(">i", len(body))
                + body
                + _struct.pack(">I", _puffin.crc32c(body))
            )
            card = len(_puffin.roaring64_portable_deserialize(vec))
        blobs.append(
            {
                "type": _puffin.DELETION_VECTOR_V1,
                "data": data_blob,
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "properties": {
                    "referenced-data-file": rp,
                    "cardinality": str(card),
                },
            }
        )
        entries_meta.append((a, card))

    name = f"delete-{uuid.uuid4().hex}.puffin"
    ppath = os.path.join(data_root, name)
    metas = _puffin.write_puffin(ppath, blobs)
    fsize = os.path.getsize(ppath)
    del_entries = []
    for (a, card), bm in zip(entries_meta, metas):
        rp, pv = info[a]
        del_entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": 1,
                    "file_path": f"data/{name}",
                    "file_format": "PUFFIN",
                    "partition": dict(
                        zip(part_cols, (pv.get(c) for c in part_cols))
                    ),
                    "record_count": card,
                    "file_size_in_bytes": fsize,
                    "block_size_in_bytes": _BLOCK_SIZE,
                    "referenced_data_file": rp,
                    "content_offset": bm["offset"],
                    "content_size_in_bytes": bm["length"],
                },
            }
        )

    # ---- carry manifests, superseded DV entries marked DELETED
    carry = None
    if replaced_refs:
        _s, prev = avro_io.read_container(_abs(table, snap["manifest-list"]))
        carry = []
        for m in prev:
            m = {**_list_defaults(2), **m}
            if int(m.get("content") or 0) != 1:
                carry.append(m)
                continue
            ms, rows = avro_io.read_container(
                _abs(table, m["manifest_path"])
            )
            hit = False
            new_rows = []
            n_live = n_dead = 0
            for r in rows:
                df_ = r["data_file"]
                is_dv = (
                    int(df_.get("content") or 0) == 1
                    and str(df_.get("file_format", "")).upper() == "PUFFIN"
                )
                replaced = (
                    is_dv
                    and r.get("status") != 2
                    and _norm_table_path(
                        table, df_.get("referenced_data_file") or ""
                    )
                    in replaced_refs
                )
                rseq = r.get("sequence_number")
                if rseq is None:
                    rseq = m.get("sequence_number")
                nr = dict(r)
                nr["sequence_number"] = rseq
                if replaced:
                    hit = True
                    nr["status"] = 2
                    n_dead += 1
                elif r.get("status") != 2:
                    nr["status"] = 0
                    n_live += 1
                new_rows.append(nr)
            if not hit:
                carry.append(m)
                continue
            nname = f"manifest-{uuid.uuid4().hex}.avro"
            npath = os.path.join(_meta_dir(table), nname)
            avro_io.write_container(npath, ms, new_rows)
            carry.append(
                {
                    **m,
                    "manifest_path": f"metadata/{nname}",
                    "manifest_length": os.path.getsize(npath),
                    "added_data_files_count": 0,
                    "existing_data_files_count": n_live,
                    "deleted_data_files_count": n_dead,
                }
            )
    return del_entries, carry, n_new, len(masked_abs)


def _commit_row_delta_snapshot(
    table: str,
    meta: dict,
    prev_snap: dict,
    new_manifests: list[dict],
    seq: int,
    snapshot_id: int,
    operation: str,
    carry_manifests: list[dict] | None = None,
    first_row_id: int | None = None,
) -> None:
    """Shared tail of every v2 row-delta commit (DELETE WHERE, UPDATE,
    equality delete, upsert-by-key): carry the previous snapshot's
    manifests forward, append the new ones in a fresh manifest list,
    record the snapshot, bump last-sequence-number (EVERY v2 commit
    must — appends after a delete escape its scope only because their
    number is higher), and publish. One implementation so the
    metadata-update invariants cannot drift between the four faces.
    `carry_manifests` overrides the carried-forward set (the v3 DV
    replace rule rewrites prior delete manifests to mark superseded
    DVs deleted); `first_row_id` stamps the snapshot's row-lineage
    start (v3)."""
    mdir = _meta_dir(table)
    if carry_manifests is None:
        _s, prev = avro_io.read_container(
            _abs(table, prev_snap["manifest-list"])
        )
        prev_manifests = [{**_list_defaults(2), **m} for m in prev]
    else:
        prev_manifests = [{**_list_defaults(2), **m} for m in carry_manifests]
    mlist_name = f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
    avro_io.write_container(
        os.path.join(mdir, mlist_name),
        _list_schema(2),
        prev_manifests + new_manifests,
    )
    now_ms = int(time.time() * 1000)
    snap_rec = {
        "snapshot-id": snapshot_id,
        "timestamp-ms": now_ms,
        "manifest-list": f"metadata/{mlist_name}",
        "summary": {"operation": operation},
        "schema-id": meta.get("current-schema-id", 0),
        "sequence-number": seq,
    }
    if first_row_id is not None:
        snap_rec["first-row-id"] = int(first_row_id)
    meta["snapshots"].append(snap_rec)
    meta["snapshot-log"].append(
        {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
    )
    meta["current-snapshot-id"] = snapshot_id
    meta["last-updated-ms"] = now_ms
    meta["last-sequence-number"] = seq
    _publish_metadata(table, meta)


# ------------------------------------------------------------------ streaming


_STREAM_PROP = "streaming.{app_id}.batch-id"


def last_streaming_batch_iceberg(path: str, app_id: str) -> int | None:
    """The highest micro-batch id `app_id` has committed to this
    table (None for a fresh table or unseen app) — the streaming
    sink's replay detector. Read from TABLE PROPERTIES, which live in
    the current metadata version: unlike a stamp on the snapshot
    summary, the mark survives snapshot expiry, so retention
    maintenance can never re-open the exactly-once window."""
    table = os.path.abspath(path)
    if _current_metadata_version(table) is None:
        return None
    props = _load_metadata(table).get("properties") or {}
    v = props.get(_STREAM_PROP.format(app_id=app_id))
    return None if v is None else int(v)


def streaming_iceberg_sink(
    path: str,
    app_id: str,
    partition_by: Sequence[str] | None = None,
    expire_every: int | None = None,
    keep_last: int = 2,
):
    """`foreachBatch` body for an exactly-once streaming Iceberg
    sink — the Iceberg twin of streaming_delta_sink: one snapshot per
    micro-batch, with the app's batch high-water mark updated in the
    SAME atomic metadata commit (write_iceberg's properties_update).
    On restart Structured Streaming replays the last unacknowledged
    batch; the sink skips batch ids at or below the logged mark.

    `expire_every` bounds metadata growth for a long-lived stream:
    every K batches, expire all but `keep_last` snapshots and vacuum
    unreferenced files — without it the manifest-list chain and
    snapshot log grow O(batches) forever (the Delta sink's
    checkpoint_every analog).

    Usage:
        q = (df.writeStream.foreachBatch(
                 streaming_iceberg_sink(table, app_id="curation-v1"))
             .option("checkpointLocation", ckpt).start())
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        last = last_streaming_batch_iceberg(path, app_id)
        if last is not None and batch_id <= last:
            return  # replayed batch: its snapshot is already committed
        write_iceberg(
            batch_df,
            path,
            mode="append",
            partition_by=partition_by,
            properties_update={
                _STREAM_PROP.format(app_id=app_id): str(batch_id)
            },
        )
        if expire_every and (batch_id + 1) % expire_every == 0:
            expire_snapshots_iceberg(path, keep_last=keep_last)
            vacuum_iceberg(path)

    return sink


# ------------------------------------------------------------------ evolution


def upgrade_iceberg(path: str, to_version: int = 3) -> int:
    """Upgrade a table's format-version in one metadata commit — no
    data or manifest rewrites (the spec's upgrade path: existing
    snapshots read as sequence 0 / null row ids). v3 initializes the
    row-lineage counter (`next-row-id`); after the upgrade,
    delete_where/update_where write puffin DELETION VECTORS instead
    of position-delete parquet (the v3 rule), new data files get
    first_row_id assignments, and existing v2 position deletes keep
    applying until a DV supersedes them. Downgrades refuse."""
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    cur = int(meta.get("format-version", 1))
    if to_version not in (2, 3):
        raise NotImplementedError(
            f"upgrade_iceberg to_version {to_version}: 2 or 3"
        )
    if to_version < cur:
        raise ValueError(
            f"cannot downgrade format-version {cur} -> {to_version}"
        )
    if to_version == cur:
        return _current_metadata_version(table)
    meta["format-version"] = to_version
    meta.setdefault("last-sequence-number", 0)
    if to_version >= 3:
        meta.setdefault("next-row-id", 0)
    meta["last-updated-ms"] = int(time.time() * 1000)
    return _publish_metadata(table, meta)


def add_column_iceberg(
    path: str, name: str, ice_type: str, default=None
) -> int:
    """Additive schema evolution: append an optional column as a new
    schema in the `schemas` list and flip current-schema-id — one
    metadata-version commit, zero data rewritten (the spec's
    evolution path; field ids make it safe because readers bind by
    id, and a fresh id can never collide with stored data). Files
    written before the evolution read the column as NULL — or, with
    `default` on a format-version 3 table, as that constant: the
    spec's `initial-default`/`write-default` pair is stamped on the
    new field and the reader's cohort split fills it per file
    (_with_initial_defaults). Reads — including time travel — use
    the CURRENT schema, matching the reader's `_current_ice_schema`
    resolution. Only additive evolution is offered;
    renames/drops/retypes stay refused."""
    if ice_type not in _ICE_TO_SPARK and not _DECIMAL_RE.match(ice_type):
        raise NotImplementedError(
            f"iceberg type {ice_type!r}; expected one of "
            f"{sorted(_ICE_TO_SPARK)} or decimal(P, S)"
        )
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    if default is not None and int(meta.get("format-version", 1)) < 3:
        raise NotImplementedError(
            "column defaults are a format-version 3 feature "
            "(upgrade_iceberg first) — a v1/v2 reader would silently "
            "read null"
        )
    if default is not None:
        _parse_ice_default(default, ice_type, name)  # loud pre-commit
    cur = _current_ice_schema(meta)
    if any(f["name"] == name for f in cur["fields"]):
        raise ValueError(f"column {name!r} already exists in {table}")
    new_id = int(meta.get("last-column-id", len(cur["fields"]))) + 1
    # minimal foreign v1 metadata may carry only the legacy `schema`
    # field with no schema-id — default it like the setdefault below
    new_schema_id = (
        max(
            (s.get("schema-id", 0) for s in meta.get("schemas", [cur])),
            default=0,
        )
        + 1
    )
    new_schema = {
        "type": "struct",
        "schema-id": new_schema_id,
        "fields": list(cur["fields"])
        + [
            {
                "id": new_id,
                "name": name,
                "required": False,
                "type": ice_type,
                **(
                    {"initial-default": default, "write-default": default}
                    if default is not None
                    else {}
                ),
            }
        ],
    }
    meta.setdefault(
        "schemas",
        [dict(cur, **{"schema-id": meta.get("current-schema-id", 0)})],
    )
    meta["schemas"].append(new_schema)
    meta["current-schema-id"] = new_schema_id
    # v1 keeps the legacy top-level `schema` field in lockstep (v1
    # readers that predate the schemas list resolve through it)
    meta["schema"] = new_schema
    meta["last-column-id"] = new_id
    meta["last-updated-ms"] = int(time.time() * 1000)
    return _publish_metadata(table, meta)


# ---------------------------------------------------------------- incremental


def read_iceberg_changes(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
    include_deletes: bool = False,
    equality_via_prior_snapshot: bool = False,
) -> DataFrame:
    """Incremental read — the Iceberg twin of read_delta_changes: the
    rows each snapshot in `from_snapshot..to_snapshot` (inclusive
    snapshot ids, current when None) ADDED, tagged with
    `_snapshot_id`. Per snapshot, the added file set is the manifest
    entries whose recorded snapshot_id matches and whose status is
    ADDED — manifest metadata only, so the resolution cost is
    O(manifest KB) and the scan cost O(new data), not O(table).

    With `include_deletes` the read becomes a CHANGELOG (the Delta
    CDF counterpart, derived rather than stored — Iceberg keeps no
    change files): output gains `_change_type`, added data files emit
    'insert' rows, and added POSITION delete files emit the exact
    rows they tombstone as 'delete' — the delete parquet names each
    (file, position), so only the REFERENCED data files are scanned
    and semi-joined on position: O(rows deleted), never O(table). A
    v2 row-delta UPDATE therefore reads as its delete+insert pair
    (net-changes form). EQUALITY delete files refuse BY DEFAULT: they
    name key VALUES, and recovering the rows they killed needs a
    prior-snapshot diff — an O(table) cost this reader will not hide
    inside an "incremental" API.

    `equality_via_prior_snapshot=True` opts into exactly that cost
    (documented O(prior snapshot scan) per equality snapshot): each
    snapshot's equality-delete keys semi-join the table AS OF the
    previous snapshot, emitting the matched rows as 'delete' — the
    form that makes a mirror built by `upsert_by_key_iceberg` fully
    changelog-consumable (its commits are equality deletes + inserts).
    Multiple equality_ids groups in one snapshot apply left-to-right
    to the not-yet-matched remainder, so one prior row emits at most
    one delete. Partition-SCOPED equality deletes (foreign writers)
    still refuse: their kill set depends on partition resolution this
    derivation does not model.

    Loud on gaps: a snapshot id in the range that is no longer
    retained (expired) raises instead of silently emitting a hole."""
    table = os.path.abspath(path)
    meta = _load_metadata(table)
    schema = _ice_schema_to_spark(_current_ice_schema(meta))
    dmap = _initial_defaults(_current_ice_schema(meta))
    # identity sources reconstruct from partition metadata; transform
    # sources live in the data files themselves
    part_cols = _identity_scan_cols(_spec_fields(meta))
    # resolve the range POSITIONALLY over the retained snapshot list:
    # spec-compliant ids are random 64-bit values (only this module's
    # writer uses max+1), so a dense numeric range would be wrong —
    # and materializing it for foreign ids would be astronomically
    # large. Both endpoints must still be retained; expiry here only
    # ever drops a prefix, so an absent endpoint means the range is
    # gone, never that a middle snapshot silently vanished.
    ordered = [s["snapshot-id"] for s in meta.get("snapshots", [])]
    if not ordered:
        raise FileNotFoundError(f"no snapshots in Iceberg table {table}")
    end = to_snapshot if to_snapshot is not None else ordered[-1]
    if from_snapshot not in ordered or end not in ordered:
        raise FileNotFoundError(
            f"snapshot range [{from_snapshot}, {end}] not fully retained "
            f"in {table} (have {ordered}): incremental "
            "read cannot skip snapshots"
        )
    i0, i1 = ordered.index(from_snapshot), ordered.index(end)
    if i0 > i1:
        raise ValueError(
            f"from_snapshot {from_snapshot} is newer than to_snapshot {end}"
        )
    want = ordered[i0 : i1 + 1]
    snaps = {s["snapshot-id"]: s for s in meta["snapshots"]}
    specs_by_id = {
        int(s["spec-id"]): list(s.get("fields") or [])
        for s in meta.get("partition-specs", [])
    }
    per_snap: list[DataFrame] = []
    for sid in want:
        _s, manifests = avro_io.read_container(
            _abs(table, snaps[sid]["manifest-list"])
        )
        entries: list[tuple[str, dict]] = []
        pos_deletes: list[str] = []
        # v3 DVs: (abs puffin path, offset, size, referenced path)
        dv_dels: list[tuple[str, int, int, str]] = []
        eq_adds: list[tuple[str, tuple]] = []  # (abs path, equality ids)
        for m in manifests:
            m_added = m.get("added_snapshot_id")
            m_spec_id = int(m.get("partition_spec_id") or 0)
            if m_added not in (None, sid):
                continue  # manifest carried forward from an older snapshot
            _ms, rows = avro_io.read_container(
                _abs(table, m["manifest_path"])
            )
            for r in rows:
                if r.get("status") != 1:
                    continue
                # an entry belongs to its recorded snapshot_id, else
                # (per the spec's inheritance) to the manifest's
                # added_snapshot_id; with BOTH absent the owner is
                # unknowable and attributing it to every snapshot in
                # the range would double-count — refuse loudly.
                owner = (
                    r.get("snapshot_id")
                    if r.get("snapshot_id") is not None
                    else m_added
                )
                if owner is None:
                    raise NotImplementedError(
                        f"manifest {m['manifest_path']!r} has an ADDED "
                        "entry with no snapshot_id and no "
                        "added_snapshot_id: cannot attribute it to a "
                        "snapshot for incremental reads"
                    )
                if owner != sid:
                    continue
                dfile = r["data_file"]
                content = int(dfile.get("content") or 0)
                if content == 0:
                    entries.append(
                        (
                            _abs(table, dfile["file_path"]),
                            dict(dfile.get("partition") or {}),
                            str(dfile.get("file_format", "PARQUET")).upper(),
                        )
                    )
                elif content == 1 and include_deletes:
                    if (
                        str(dfile.get("file_format", "PARQUET")).upper()
                        == "PUFFIN"
                    ):
                        dv_dels.append(
                            (
                                _abs(table, dfile["file_path"]),
                                int(dfile["content_offset"]),
                                int(dfile["content_size_in_bytes"]),
                                str(dfile["referenced_data_file"]),
                            )
                        )
                    else:
                        pos_deletes.append(_abs(table, dfile["file_path"]))
                elif content == 1:
                    raise NotImplementedError(
                        f"snapshot {sid} adds a delete file: the "
                        "adds-only incremental read cannot express "
                        "row-level deletes; pass include_deletes=True "
                        "for the changelog form, or read full snapshots"
                    )
                elif include_deletes and equality_via_prior_snapshot:
                    sfields = specs_by_id.get(m_spec_id)
                    if sfields is None and m_spec_id == int(
                        meta.get("default-spec-id", 0)
                    ):
                        sfields = _spec_fields(meta)
                    if sfields:
                        raise NotImplementedError(
                            f"snapshot {sid} adds a PARTITION-SCOPED "
                            "equality delete file: its kill set "
                            "depends on partition resolution the "
                            "prior-snapshot derivation does not model"
                        )
                    ids = dfile.get("equality_ids")
                    if not ids:
                        raise NotImplementedError(
                            f"equality delete file "
                            f"{dfile['file_path']!r} records no "
                            "equality_ids: nothing to compare on"
                        )
                    eq_adds.append(
                        (
                            _abs(table, dfile["file_path"]),
                            tuple(int(i) for i in ids),
                        )
                    )
                else:
                    raise NotImplementedError(
                        f"snapshot {sid} adds an EQUALITY delete file: "
                        "recovering the rows it killed needs a prior-"
                        "snapshot diff (O(table)); pass "
                        "equality_via_prior_snapshot=True with "
                        "include_deletes=True to opt into that cost, "
                        "or read full snapshots"
                    )
        if entries:
            e_by_fmt: dict[str, list] = {}
            for p, pv, fmt in entries:
                if fmt not in ("PARQUET", "ORC", "AVRO"):
                    raise NotImplementedError(f"Iceberg data format {fmt!r}")
                e_by_fmt.setdefault(fmt, []).append((p, pv))
            fscans = []
            for fmt in sorted(e_by_fmt):
                if fmt == "AVRO":
                    fscans.append(
                        _scan_avro_files(
                            spark, schema, part_cols, e_by_fmt[fmt],
                            bool(dmap),
                        )
                    )
                else:
                    fscans.append(
                        _scan_snapshot(
                            spark,
                            os.path.join(table, "data"),
                            schema,
                            part_cols,
                            e_by_fmt[fmt],
                            keep_meta=bool(dmap),
                            fmt=fmt.lower(),
                        )
                    )
            scan = fscans[0]
            for s in fscans[1:]:
                scan = scan.unionByName(s)
            if dmap:
                # pre-default files emitted by an incremental range
                # read the default too, not null
                scan = _with_initial_defaults(spark, scan, meta, e_by_fmt)
                scan = scan.select(*[f.name for f in schema.fields])
            if include_deletes:
                scan = scan.withColumn("_change_type", F.lit("insert"))
            per_snap.append(
                scan.withColumn("_snapshot_id", F.lit(sid).cast("bigint"))
            )
        if pos_deletes or dv_dels:
            # v3 DVs MERGE on write (_build_dv_commit folds the
            # superseded DV's positions and legacy v2 rows into the
            # new blob), so the blob alone re-reports EARLIER
            # snapshots' deletes as this snapshot's — subtract the
            # parent snapshot's mask to emit only the DELTA.
            prior = (
                _prior_delete_mask(spark, table, snaps, ordered, sid, dv_dels)
                if dv_dels
                else None
            )
            per_snap.append(
                _changelog_deleted_rows(
                    spark,
                    table,
                    snaps[sid],
                    pos_deletes,
                    schema,
                    part_cols,
                    dv_dels=dv_dels,
                    prior_mask=prior,
                    meta=meta if dmap else None,
                ).withColumn("_snapshot_id", F.lit(sid).cast("bigint"))
            )
        if eq_adds:
            per_snap.append(
                _changelog_equality_deleted_rows(
                    spark, table, meta, snaps, ordered, sid, eq_adds, schema
                ).withColumn("_snapshot_id", F.lit(sid).cast("bigint"))
            )
    if not per_snap:
        out = spark.createDataFrame([], schema)
        if include_deletes:
            out = out.withColumn("_change_type", F.lit(None).cast("string"))
        return out.withColumn("_snapshot_id", F.lit(None).cast("bigint"))
    out = per_snap[0]
    for df in per_snap[1:]:
        out = out.unionByName(df)
    return out


def _prior_delete_mask(
    spark: SparkSession,
    table: str,
    snaps: dict,
    ordered: list[int],
    sid: int,
    dv_dels: list[tuple[str, int, int, str]],
) -> dict[str, set[int]]:
    """Positions already tombstoned — as of snapshot `sid`'s PARENT —
    for the data files the snapshot's new DVs reference, keyed by
    `_norm_table_path`. The changelog subtracts this mask so a
    superseding DV (which per the spec MERGES its predecessor and any
    folded legacy v2 position-delete rows) emits only the positions
    `sid` itself killed; without the subtraction a mirror built from
    the changelog can re-delete a key that was genuinely re-inserted
    between the original delete and the supersede (latest-wins would
    rank the stale re-reported delete above the earlier re-insert).
    Cost: O(prior DV blobs + prior delete rows for the referenced
    files) — metadata-sized, driver-side like the blobs themselves.
    Refuses when the parent snapshot is expired: the prior mask is
    unknowable and emitting the full merged DV would be silently
    wrong."""
    from archetype_spark.sources import puffin as _puffin

    # resolve the parent by its RECORDED id, not list position: a
    # foreign snapshots array may interleave branch/tag snapshots, and
    # subtracting a non-ancestor's mask would itself be silently wrong
    parent_id = snaps[sid].get("parent-snapshot-id")
    idx = ordered.index(sid)
    if parent_id is None:
        if idx == 0:
            return {}  # the table's first snapshot: nothing prior
        # our own writer's linear history records no parent ids on
        # older metadata; positional fallback is exact there
        parent_id = ordered[idx - 1]
    if parent_id not in snaps:
        raise FileNotFoundError(
            f"snapshot {sid} adds deletion vectors but its parent "
            f"snapshot {parent_id} is no longer retained: the DV "
            "delta (vs the merged-in prior mask) cannot be derived"
        )
    want = {_norm_table_path(table, ref) for _p, _o, _s, ref in dv_dels}
    parent = snaps[parent_id]
    data, deletes, _eq = _live_entries(table, parent)
    mask: dict[str, set[int]] = {}
    pos_files = []
    for p, _s, dvi in deletes:
        if dvi is None:
            pos_files.append(p)
        else:
            nref = _norm_table_path(table, dvi["referenced"])
            if nref in want:
                blob = _puffin.read_blob(p, dvi["offset"], dvi["size"])
                mask.setdefault(nref, set()).update(
                    int(x) for x in _puffin.dv_positions(blob)
                )
    if pos_files:
        # legacy v2 rows the new DV folded in (the upgrade-merge rule)
        recorded = {
            rp: _norm_table_path(table, rp)
            for _p, _pv, rp, _s, _f in data
            if _norm_table_path(table, rp) in want
        }
        if recorded:
            rows = (
                spark.read.schema("file_path string, pos long")
                .parquet(*pos_files)
                .filter(F.col("file_path").isin(sorted(recorded)))
                .collect()
            )
            for r in rows:
                nref = recorded.get(r["file_path"])
                if nref is not None:
                    mask.setdefault(nref, set()).add(int(r["pos"]))
    return mask


def _changelog_deleted_rows(
    spark: SparkSession,
    table: str,
    snap: dict,
    pos_deletes: list[str],
    schema: StructType,
    part_cols: list[str],
    dv_dels: list[tuple[str, int, int, str]] | None = None,
    prior_mask: dict[str, set[int]] | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """The exact rows a snapshot's POSITION delete files (and v3
    deletion vectors, `dv_dels`) tombstone, tagged
    _change_type='delete': each names (recorded file path, position),
    so only the REFERENCED data files are scanned (keep_meta) and
    inner-joined on position — cost O(rows deleted). DV blobs decode
    driver-side (compressed bitmaps, metadata-sized). Referenced
    files are resolved through the snapshot's own live entries (the
    delete and its targets coexist in the snapshot that added it); a
    reference to a non-live file refuses loudly."""
    cols = [f.name for f in schema.fields]
    data, _pos, _eq = _live_entries(table, snap)
    by_recorded = {rp: (p, pv) for p, pv, rp, _s, _f in data}
    nonpq = {rp for _p, _pv, rp, _s, f in data if f != "PARQUET"}
    frames = []
    if pos_deletes:
        frames.append(
            spark.read.schema("file_path string, pos long").parquet(
                *pos_deletes
            )
        )
    if dv_dels:
        from archetype_spark.sources import puffin as _puffin

        rows = []
        for p, off, size, ref in dv_dels:
            blob = _puffin.read_blob(p, off, size)
            positions = {int(x) for x in _puffin.dv_positions(blob)}
            if prior_mask:
                positions -= prior_mask.get(
                    _norm_table_path(table, ref), set()
                )
            rows.extend((ref, x) for x in sorted(positions))
        frames.append(
            spark.createDataFrame(rows, "file_path string, pos long")
        )
    del_df = frames[0]
    for fr in frames[1:]:
        del_df = del_df.unionByName(fr)
    del_df = del_df.dropDuplicates(["file_path", "pos"])
    refs = [r["file_path"] for r in del_df.select("file_path").distinct().collect()]
    if not refs:
        # every DV position was prior-masked (a pure supersede with no
        # new kills in the range's view): an empty delta, not an error
        return spark.createDataFrame([], schema).withColumn(
            "_change_type", F.lit("delete")
        )
    entries = []
    for rp in refs:
        hit = by_recorded.get(rp)
        if hit is None:
            # foreign writers may record absolute URIs; retry via _abs
            ap = os.path.abspath(_abs(table, rp))
            hit = next(
                (
                    (p, pv)
                    for p, pv, rp2, _s, _f in data
                    if os.path.abspath(p) == ap
                ),
                None,
            )
        if rp in nonpq:
            raise NotImplementedError(
                f"position-delete changelog references non-parquet "
                f"data file {rp!r}: recovering its tombstoned rows "
                "needs a positional rescan this reader only does for "
                "parquet"
            )
        if hit is None:
            raise ValueError(
                f"position delete references data file {rp!r} that is "
                f"not live in snapshot {snap.get('snapshot-id')}"
            )
        entries.append(hit)
    scan = _scan_snapshot(
        spark,
        os.path.join(table, "data"),
        schema,
        part_cols,
        entries,
        keep_meta=True,
    )
    norm = F.regexp_replace(F.col("file_path"), r"^[a-zA-Z][\w+.-]*:/+", "/")
    norm = F.when(norm.startswith("/"), norm).otherwise(
        F.concat(F.lit(table + os.sep), norm)
    )
    pairs = del_df.select(
        norm.alias("__dv_file"), F.col("pos").alias("__dv_ridx")
    )
    out = scan.join(
        F.broadcast(pairs), ["__dv_file", "__dv_ridx"], "left_semi"
    )
    if meta is not None:
        # tombstoned rows from pre-default files read defaults too
        out = _with_initial_defaults(spark, out, meta, {"PARQUET": entries})
    return out.select(*cols).withColumn("_change_type", F.lit("delete"))


def _changelog_equality_deleted_rows(
    spark: SparkSession,
    table: str,
    meta: dict,
    snaps: dict,
    ordered: list[int],
    sid: int,
    eq_adds: list[tuple[str, tuple]],
    schema: StructType,
) -> DataFrame:
    """Rows a snapshot's EQUALITY delete files killed, derived by
    key-joining the table AS OF the prior snapshot — the documented
    O(prior-snapshot scan) the `equality_via_prior_snapshot` opt-in
    buys. Strict sequence scoping holds by construction: every prior
    row's sequence number is below the delete's. Multiple equality_ids
    groups apply LEFT-TO-RIGHT against the not-yet-matched remainder,
    so one prior row emits at most one delete even when several
    groups' keys cover it."""
    import functools
    import operator as op

    cols = [f.name for f in schema.fields]
    i = ordered.index(sid)
    if i == 0:
        if snaps[sid].get("parent-snapshot-id") is not None:
            # an expired parent held the rows this delete killed:
            # emitting nothing would be a silent hole
            raise FileNotFoundError(
                f"snapshot {sid} carries equality deletes but its "
                "parent snapshot is no longer retained: the deleted "
                "rows cannot be derived"
            )
        # the table's first snapshot: nothing existed to kill
        return spark.createDataFrame([], schema).withColumn(
            "_change_type", F.lit("delete")
        )
    prior = _read_snapshot(spark, table, meta, snaps[ordered[i - 1]]).select(
        *cols
    )
    fields = _current_ice_schema(meta)["fields"]
    id_to_name = {int(f["id"]): f["name"] for f in fields}
    groups: dict[tuple, list[str]] = {}
    for p, ids in eq_adds:
        groups.setdefault(ids, []).append(p)
    out = None
    remaining = prior
    for ids in sorted(groups):
        missing = [fid for fid in ids if fid not in id_to_name]
        if missing:
            raise NotImplementedError(
                f"equality delete references field id(s) {missing} "
                "absent from the current schema"
            )
        eq_cols = [id_to_name[fid] for fid in ids]
        sub = StructType([schema[c] for c in eq_cols])
        keys = (
            spark.read.schema(sub)
            .parquet(*groups[ids])
            .dropDuplicates()
            .select(*[F.col(c).alias(f"__eq_{c}") for c in eq_cols])
        )
        cond = functools.reduce(
            op.and_,
            [remaining[c].eqNullSafe(keys[f"__eq_{c}"]) for c in eq_cols],
        )
        hit = remaining.join(keys, cond, "left_semi")
        out = hit if out is None else out.unionByName(hit)
        remaining = remaining.join(keys, cond, "left_anti")
    return out.withColumn("_change_type", F.lit("delete"))


def compact_iceberg(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    sort_by: Sequence[str] | None = None,
    zorder_by: Sequence[str] | None = None,
) -> None:
    """OPTIMIZE-style bin-packing, Iceberg face: rewrite the current
    snapshot as ONE overwrite snapshot (same contract as
    compact_delta — old files stay time-travelable until expiry +
    vacuum; streaming high-water marks live in table properties and
    are unaffected). `sort_by` clusters rows for parquet row-group
    stat skipping on one leading key; `zorder_by` (2-4 columns,
    exclusive with sort_by) Morton-clusters them so box predicates
    on any subset of the columns prune files (operators/zorder.py)."""
    if sort_by and zorder_by:
        raise ValueError("pass sort_by or zorder_by, not both")
    df = read_iceberg(spark, path)
    if zorder_by:
        from archetype_spark.operators.zorder import zorder_repartition

        df = zorder_repartition(
            df,
            list(zorder_by),
            target_files or spark.sparkContext.defaultParallelism,
        )
        write_iceberg(df, path, mode="overwrite")
        return
    if target_files is not None:
        df = df.repartition(target_files)
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    write_iceberg(df, path, mode="overwrite")
