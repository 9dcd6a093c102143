"""Export a LakeTable as an Apache Iceberg v1 or v2 table directory.

The reference manages true Iceberg tables through PyIceberg + a catalog
(``/root/reference/lambda/iceberg_helper.py:104-122``, create_table
:234-239); this container has no Iceberg runtime, so table_format.py
keeps its own metadata. This module closes the interop gap the honest
way available offline: it materializes the **public Iceberg table
spec** layout (v1, or v2 when the table carries merge-on-read delete
state) from a LakeTable —

- ``metadata/v{N}.metadata.json`` + ``version-hint.text`` (the
  HadoopTables/HadoopCatalog file-system catalog convention, so an
  engine with an Iceberg runtime — Spark+iceberg-runtime, Trino,
  pyiceberg ``StaticTable.from_metadata`` — can open ``location``
  directly),
- one Avro manifest list per exported snapshot chain,
- one Avro manifest per contributing snapshot, listing its parquet
  data files with per-file record counts/sizes (read from parquet
  footers, the same stats Iceberg collects at commit time),

with real per-field Iceberg field IDs, Iceberg type names, and
spec-encoded partition values (year -> years since 1970, month ->
months since 1970-01, day -> days since epoch, hour -> hours since
epoch — the spec's integer transform encodings, converted from the
hive-style directory values the write path produces).

**Format v2 (spec "Row-level Deletes")**: a table whose live set
carries merge-on-read delete entries exports as format-version 2 —
the metadata gains ``last-sequence-number`` + per-snapshot
``sequence-number``; manifest lists gain ``content`` /
``sequence_number`` / ``min_sequence_number`` (field-ids 517/515/516);
manifest entries gain the v2 inheritance fields (3/4, written null for
ADDED entries so readers inherit from the list); data_file records
gain ``content`` (134). Delete state maps onto the spec's two delete
granularities:

- equality-delete key files (``Snapshot.delete_keys_dir`` — the MERGE
  path) export AS-IS: the key parquet is already the spec's
  equality-delete payload; its manifest entry carries content=2 and
  ``equality_ids`` (135/136) naming the key columns' field IDs.
  Applies to data files with STRICTLY smaller sequence number — the
  exact semantics the lake scan uses.
- predicate deletes (``Snapshot.delete_predicate`` — the DELETE path)
  have no spec representation, so the export COMPUTES position-delete
  files (content=1; columns ``file_path``/``pos``, spec field-ids
  2147483546/2147483545, sorted as required): each earlier data
  snapshot is scanned with ``_metadata.file_path``/``row_index`` and
  the predicate's TRUE rows become (file, ordinal) tuples. This needs
  a SparkSession — pass ``spark=`` when predicate deletes are live.

Known v2 limitation, shared with the v1 export: parquet data files are
written by plain Spark without embedded Iceberg field-id attributes, so
readers must resolve columns by name (the export's schemas use the
same names). Documented, not silent.

Verification strategy (tests/test_iceberg_export.py): the Avro files
are read back through the Apache Avro *Java* implementation bundled in
Spark's JVM (an independent codec implementation, not this writer), and
an "external reader" reconstructs the table's rows purely from the
exported Iceberg metadata — never touching ``_meta`` — and must match
``to_df()``. A real Iceberg engine could not be installed offline; the
Java-Avro round-trip plus byte-level spec assertions are the strongest
in-container evidence.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import date, datetime
from pathlib import Path
from typing import Any

from pyspark.sql import types as T

from .avro_ocf import write_ocf
from .partitioning import PARTITION_COL_PREFIX, PartitionSpec
from .table_format import LakeTable, Snapshot

FORMAT_VERSION = 1

# ---------------------------------------------------------------------------
# Spark -> Iceberg schema JSON (public Iceberg spec "Schemas" section)
# ---------------------------------------------------------------------------

_PRIMITIVES: dict[str, str] = {
    "boolean": "boolean",
    "integer": "int",
    "short": "int",
    "byte": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "string": "string",
    "binary": "binary",
}


class _StableIds:
    """Path-keyed ID registry: the same column path keeps the same
    field ID across every schema version (Iceberg's evolution
    invariant — type promotion reuses the ID, adds mint new ones)."""

    def __init__(self) -> None:
        self._by_path: dict[str, int] = {}
        self.last = 0

    def for_path(self, path: str) -> int:
        fid = self._by_path.get(path)
        if fid is None:
            self.last += 1
            fid = self._by_path[path] = self.last
        return fid


def _iceberg_type_stable(dt: T.DataType, path: str, ids: _StableIds) -> Any:
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                _iceberg_field_stable(f, f"{path}.{f.name}", ids)
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": ids.for_path(f"{path}.element"),
            "element": _iceberg_type_stable(
                dt.elementType, f"{path}.element", ids
            ),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": ids.for_path(f"{path}.key"),
            "key": _iceberg_type_stable(dt.keyType, f"{path}.key", ids),
            "value-id": ids.for_path(f"{path}.value"),
            "value": _iceberg_type_stable(dt.valueType, f"{path}.value", ids),
            "value-required": not dt.valueContainsNull,
        }
    name = dt.typeName()
    if name in _PRIMITIVES:
        return _PRIMITIVES[name]
    raise ValueError(f"no Iceberg mapping for Spark type {dt.simpleString()}")


def _iceberg_field_stable(
    f: T.StructField, path: str, ids: _StableIds
) -> dict[str, Any]:
    return {
        "id": ids.for_path(path),
        "name": f.name,
        "required": not f.nullable,
        "type": _iceberg_type_stable(f.dataType, path, ids),
    }


def schema_to_iceberg(
    schema: T.StructType,
    schema_id: int = 0,
    ids: "_StableIds | None" = None,
) -> dict[str, Any]:
    """One schema version as an Iceberg struct. Field IDs come from
    the path-keyed registry ``ids`` (fresh when None): paths it has
    not seen are numbered in DFS pre-order, paths it has keep their
    ID, so a registry shared across versions keeps IDs stable.
    ``_last_column_id`` is the registry's high-water mark, for the
    caller to strip before writing."""
    ids = _StableIds() if ids is None else ids
    return {
        "type": "struct",
        "schema-id": schema_id,
        "fields": [
            _iceberg_field_stable(f, f.name, ids) for f in schema.fields
        ],
        "_last_column_id": ids.last,
    }


def _sort_orders_json(
    table: "LakeTable", col_ids: "_StableIds"
) -> dict[str, Any]:
    """``sort-orders`` + ``default-sort-order-id`` for the metadata
    doc. Unsorted tables export the spec's canonical empty order 0;
    a declared sort order (write.sort-order property or compact
    sort_by — see table_format.refresh_declared_sort_order) exports
    as order 1 with identity-transform fields, directions, and
    null-orders, resolved to stable source-ids."""
    from .table_format import _sort_fields  # noqa: PLC0415

    fields = _sort_fields(table.meta)
    orders: list[dict[str, Any]] = [{"order-id": 0, "fields": []}]
    if not fields:
        return {"sort-orders": orders, "default-sort-order-id": 0}
    sbf = table._spark_bucket_field()
    if sbf is not None:
        # bucket-layout tables physically write sortBy(bucket key,
        # *declared order) — a file sorted by (k, v) is NOT sorted by
        # v alone, so exporting only the declared secondary columns
        # would misdescribe the actual write order to external readers
        # (default-sort-order-id points at order 1). Export the
        # PHYSICAL order with the bucket key as the leading field —
        # the same derivation as the manifest's sorted_by claim
        # (table_format._bucket_sort_cols): key first, declared
        # columns minus the key after.
        fields = [
            {
                "column": sbf.source_column,
                "direction": "asc",
                "null-order": "nulls-first",
            },
            *(f for f in fields if f["column"] != sbf.source_column),
        ]
    orders.append(
        {
            "order-id": 1,
            "fields": [
                {
                    # the spec's sort-transform vocabulary is the
                    # partition-transform vocabulary; our normalized
                    # field dicts already carry the spec string form
                    # ("identity" | "year".."hour" | "truncate[W]" |
                    # "bucket[N]"), so it exports verbatim
                    "transform": f.get("transform", "identity"),
                    "source-id": col_ids.for_path(f["column"]),
                    "direction": f["direction"],
                    "null-order": f["null-order"],
                }
                for f in fields
            ],
        }
    )
    return {"sort-orders": orders, "default-sort-order-id": 1}


def schema_history_to_iceberg(
    table: "LakeTable",
) -> tuple[list[dict[str, Any]], int, _StableIds]:
    """Convert every stored schema version with STABLE field IDs:
    versions are walked oldest-first so v1's columns get the low IDs
    and later adds mint new ones; a path present in several versions
    (including with a promoted type) keeps one ID throughout. Returns
    (schemas list, current schema-id, the id registry — ``.last`` is
    last-column-id and ``.for_path`` resolves partition source-ids for
    any column any version ever had)."""
    ids = _StableIds()
    docs = [
        schema_to_iceberg(table.schema_at(v), v, ids)
        for v in sorted(int(v) for v in table.meta["schemas"])
    ]
    for doc in docs:
        del doc["_last_column_id"]
    return docs, int(table.meta["current_schema_version"]), ids


# ---------------------------------------------------------------------------
# Partition spec JSON + partition value encoding
# ---------------------------------------------------------------------------

_EPOCH = date(1970, 1, 1)


def spec_to_iceberg(
    spec: PartitionSpec,
    schema_doc: dict[str, Any] | None = None,
    spec_id: int = 0,
    source_ids: "dict[str, int] | _StableIds | None" = None,
    void_fields: "frozenset[str] | set[str]" = frozenset(),
) -> dict[str, Any]:
    """``source_ids`` may be a path->id mapping (covers columns from any
    schema version); falls back to the given schema doc's root fields.
    Partition field-ids reuse the engine's real spec_field_id (minted
    from 1000, unique across spec evolution — the Iceberg convention).

    ``bucket[N]``/``truncate[W]`` transform strings are already the
    spec's serialization and pass through verbatim. ``void_fields``
    names fields exported with the spec's ``void`` transform instead:
    used for Spark-bucket-LAYOUT fields, whose physical bucket ids come
    from Spark's hash (not the spec's murmur3-seed-0), so advertising
    ``bucket[N]`` would make external readers prune wrongly — ``void``
    is the conservative, spec-legal downgrade (readers keep every
    file; Iceberg itself uses it for dropped v1 partition fields)."""
    if source_ids is None:
        source_ids = {f["name"]: f["id"] for f in schema_doc["fields"]}
    # a _StableIds registry must NOT mint here — an unknown partition
    # source means invalid metadata, so raise instead (for_path would
    # silently allocate an id beyond last-column-id)
    lookup = (
        source_ids._by_path.__getitem__
        if isinstance(source_ids, _StableIds)
        else source_ids.__getitem__
    )
    fields = []
    for f in spec.fields:
        try:
            sid = lookup(f.source_column)
        except KeyError:
            raise ValueError(
                f"partition source {f.source_column!r} not a known column"
            ) from None
        fields.append(
            {
                "name": f.name,
                "transform": (
                    "void" if f.name in void_fields else f.transform
                ),
                "source-id": sid,
                "field-id": f.spec_field_id,
            }
        )
    return {"spec-id": spec_id, "fields": fields}


def _partition_avro_type(transform: str, source_type: T.DataType) -> Any:
    if transform in ("year", "month", "day", "hour"):
        return "int"
    if transform.startswith("bucket["):
        return "int"  # spec: bucket result type is int
    # void and truncate[W] carry the source value's representation
    # (void values are always null; the declared type is moot but
    # must be schema-valid) — fall through to the identity mapping
    if isinstance(source_type, (T.IntegerType, T.ShortType, T.ByteType)):
        return "int"
    if isinstance(source_type, T.DateType):
        return "int"  # spec: identity date = days since epoch
    if isinstance(source_type, (T.LongType, T.TimestampType, T.TimestampNTZType)):
        return "long"  # spec: identity timestamp = micros since epoch
    return "string"


def encode_partition_value(transform: str, raw: str, source_type: T.DataType):
    """Hive-dir string -> Iceberg spec partition encoding (the spec's
    integer encodings for time transforms AND for identity over
    date/timestamp sources). Directory values arrive hive-escaped
    (%3A, %20, %2F, ...; Spark escapes them on write), so unescape
    once up front — manifests store real values, not path encodings."""
    if raw in ("__HIVE_DEFAULT_PARTITION__", "null", ""):
        return None
    from urllib.parse import unquote  # noqa: PLC0415

    raw = unquote(raw)
    if transform == "void":
        return None  # spec: void always produces null
    if transform.startswith("bucket["):
        return int(raw)  # bucket ids are ints in the dir names
    # truncate[W] falls through: the partition value has the source
    # column's representation (ints for integral sources, the prefix
    # string for string sources) — exactly the identity decoding below
    if transform == "year":
        return int(raw) - 1970
    if transform == "month":
        y, m = raw.split("-")
        return (int(y) - 1970) * 12 + (int(m) - 1)
    if transform == "day":
        return (date.fromisoformat(raw) - _EPOCH).days
    if transform == "hour":
        d, h = raw.rsplit("-", 1)
        return (date.fromisoformat(d) - _EPOCH).days * 24 + int(h)
    if isinstance(source_type, (T.IntegerType, T.ShortType, T.ByteType, T.LongType)):
        return int(raw)
    if isinstance(source_type, T.DateType):
        return (date.fromisoformat(raw) - _EPOCH).days
    if isinstance(source_type, (T.TimestampType, T.TimestampNTZType)):
        # hive dirs encode timestamps as 'YYYY-MM-DD HH:MM:SS[.ffffff]'
        dt = datetime.fromisoformat(raw)
        return int(dt.timestamp() * 1_000_000) if dt.tzinfo else int(
            (dt - datetime(1970, 1, 1)).total_seconds() * 1_000_000
        )
    return raw


# ---------------------------------------------------------------------------
# Manifest / manifest-list Avro schemas (Iceberg spec v1 field IDs)
# ---------------------------------------------------------------------------


# spec "Position Delete Files": reserved field ids for the delete-file
# columns (2147483546 = file_path, 2147483545 = pos)
POS_DELETE_FILE_PATH_ID = 2147483546
POS_DELETE_POS_ID = 2147483545


def _manifest_entry_schema(
    partition_fields: list[dict[str, Any]],
    format_version: int = 1,
    include_equality_ids: bool = False,
    include_dv_fields: bool = False,
    include_lineage_fields: bool = False,
) -> dict:
    partition_record = {
        "type": "record",
        "name": "r102",
        "fields": [
            {
                "name": pf["name"],
                "type": ["null", pf["avro_type"]],
                "default": None,
                "field-id": pf["field-id"],
            }
            for pf in partition_fields
        ],
    }
    df_fields: list[dict[str, Any]] = []
    if format_version >= 2:
        # v2 data_file.content: 0=DATA, 1=POSITION_DELETES, 2=EQUALITY_DELETES
        df_fields.append({"name": "content", "type": "int", "field-id": 134})
    df_fields += [
        {"name": "file_path", "type": "string", "field-id": 100},
        {"name": "file_format", "type": "string", "field-id": 101},
        {"name": "partition", "type": partition_record, "field-id": 102},
        {"name": "record_count", "type": "long", "field-id": 103},
        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
    ]
    if format_version == 1:
        # v1 only; removed from the spec in v2
        df_fields.append(
            {"name": "block_size_in_bytes", "type": "long", "field-id": 105}
        )
    if include_equality_ids:
        df_fields.append(
            {
                "name": "equality_ids",
                "type": [
                    "null",
                    {"type": "array", "items": "int", "element-id": 136},
                ],
                "default": None,
                "field-id": 135,
            }
        )
    if include_lineage_fields:
        # v3 row lineage (TableSpec v3 data_file field 142): the
        # _row_id of the file's first row — written EXPLICITLY from
        # the engine's commit-time assignments (a42), closing the
        # derive-from-metadata divergence (conformance row 39 -> 41)
        df_fields.append(
            {"name": "first_row_id", "type": ["null", "long"],
             "default": None, "field-id": 142}
        )
    if include_dv_fields:
        # v3 deletion-vector addressing (TableSpec v3 data_file
        # fields): the referenced data file plus the blob coordinates
        # inside the puffin container
        df_fields += [
            {"name": "referenced_data_file", "type": ["null", "string"],
             "default": None, "field-id": 143},
            {"name": "content_offset", "type": ["null", "long"],
             "default": None, "field-id": 144},
            {"name": "content_size_in_bytes", "type": ["null", "long"],
             "default": None, "field-id": 145},
        ]
    data_file = {"type": "record", "name": "r2", "fields": df_fields}
    entry_fields: list[dict[str, Any]] = [
        {"name": "status", "type": "int", "field-id": 0},
        {
            "name": "snapshot_id",
            "type": ["null", "long"],
            "default": None,
            "field-id": 1,
        },
    ]
    if format_version >= 2:
        # written null on ADDED entries: readers inherit the sequence
        # numbers from the manifest-list entry (spec "Sequence Number
        # Inheritance") — asserted by the conformance suite
        entry_fields += [
            {
                "name": "sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 3,
            },
            {
                "name": "file_sequence_number",
                "type": ["null", "long"],
                "default": None,
                "field-id": 4,
            },
        ]
    entry_fields.append({"name": "data_file", "type": data_file, "field-id": 2})
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": entry_fields,
    }


def _manifest_file_schema(
    format_version: int = 1, include_lineage: bool = False
) -> dict:
    """Manifest-list entry schema. v2 renames the file-count fields
    (added_files_count -> added_data_files_count etc., same field-ids)
    and adds content/sequence_number/min_sequence_number (517/515/516,
    required)."""
    v2 = format_version >= 2
    fields: list[dict[str, Any]] = [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
    ]
    if v2:
        fields += [
            {"name": "content", "type": "int", "field-id": 517},
            {"name": "sequence_number", "type": "long", "field-id": 515},
            {"name": "min_sequence_number", "type": "long", "field-id": 516},
        ]
    fields.append(
        # REQUIRED in both versions — plain long, not a nullable union
        # a reader would need schema resolution to accept
        {"name": "added_snapshot_id", "type": "long", "field-id": 503}
    )
    infix = "_data" if v2 else ""
    for name, fid in (
        (f"added{infix}_files_count", 504),
        (f"existing{infix}_files_count", 505),
        (f"deleted{infix}_files_count", 506),
    ):
        fields.append(
            {"name": name, "type": "int", "field-id": fid}
            if v2
            else {
                "name": name,
                "type": ["null", "int"],
                "default": None,
                "field-id": fid,
            }
        )
    for name, fid in (
        ("added_rows_count", 512),
        ("existing_rows_count", 513),
        ("deleted_rows_count", 514),
    ):
        fields.append(
            {"name": name, "type": "long", "field-id": fid}
            if v2
            else {
                "name": name,
                "type": ["null", "long"],
                "default": None,
                "field-id": fid,
            }
        )
    if include_lineage:
        # v3 row lineage (manifest_file field 520): the first row id
        # assigned to rows in this manifest's ADDED data files
        fields.append(
            {"name": "first_row_id", "type": ["null", "long"],
             "default": None, "field-id": 520}
        )
    return {"type": "record", "name": "manifest_file", "fields": fields}


# v1 alias kept for existing callers/tests
_MANIFEST_FILE_SCHEMA = _manifest_file_schema(1)


def _snapshot_int_id(snap: Snapshot) -> int:
    """Our snapshot ids are strings; Iceberg requires int64. Derive a
    stable positive 63-bit id from the string."""
    import hashlib  # noqa: PLC0415

    digest = hashlib.sha256(snap.snapshot_id.encode()).digest()
    return int.from_bytes(digest[:8], "big") & 0x7FFF_FFFF_FFFF_FFFF


# ---------------------------------------------------------------------------
# Exporter
# ---------------------------------------------------------------------------


def _variant_batch_to_json(s):
    """One Arrow batch of struct<metadata binary, value binary> (a
    pandas DataFrame) -> JSON strings; rows with a null half render
    as SQL NULL. The binary spec decode lives in variant.py."""
    import pandas as pd  # noqa: PLC0415

    from .variant import variant_to_json  # noqa: PLC0415

    out = [
        None
        if m is None or v is None
        else variant_to_json(bytes(m), bytes(v))
        for m, v in zip(s["metadata"], s["value"])
    ]
    return pd.Series(out, dtype=object)


def _variant_json_udf():
    """Arrow-batched decoder for unshredded variant columns (r16,
    conformance row 43). Built via the explicit PandasUDFType path —
    this module uses `from __future__ import annotations`, which
    stringifies type hints and breaks pandas_udf's hint inference."""
    from pyspark.sql.functions import (  # noqa: PLC0415
        PandasUDFType,
        pandas_udf,
    )

    return pandas_udf(
        _variant_batch_to_json, "string", PandasUDFType.SCALAR
    )


def _raw_partition_values(rel: str) -> dict[str, str]:
    """{partition name: raw hive dir value} of a data file, from the
    directory components of its path relative to its snapshot dir —
    still escaped, the form ``encode_partition_value`` decodes."""
    return {
        k.removeprefix(PARTITION_COL_PREFIX): v
        for k, _, v in (
            seg.partition("=") for seg in Path(rel).parent.parts if "=" in seg
        )
    }


def _write_position_deletes(
    spark, table: LakeTable, pred_snap: Snapshot, out_dir: Path
) -> None:
    """Materialize one predicate-delete snapshot as a spec position-
    delete file: scan each EARLIER data snapshot's manifest files with
    Spark's ``_metadata.file_path`` / ``_metadata.row_index`` columns,
    keep the rows where the stored (null-safe) predicate is TRUE, and
    write their (file, ordinal) tuples sorted by (file_path, pos) — the
    spec's required delete-file ordering. Output size is bounded by
    the deleted-row count of the predicate, and the single-file
    coalesce keeps the manifest one entry; a cluster-scale export
    would shard by file_path instead."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    arms = []
    for s in table._live_state(table.snapshots)[0]:
        if s.sequence_number >= pred_snap.sequence_number or not s.files:
            continue  # the mask covers EARLIER, non-empty data only
        df = spark.read.parquet(*table._paths(s.files))
        df = df.select(
            "*",
            # manifests store plain absolute paths; _metadata returns
            # file: URIs — normalize so the tuples join back exactly
            F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ).alias("_pos_file"),
            F.col("_metadata.row_index").alias("_pos_index"),
        )
        # the stored predicate names current columns: read through the
        # scan's own rename log and alignment
        arms.append(
            table._as_current(df, s, keep=["_pos_file", "_pos_index"])
        )
    if arms:
        out = arms[0]
        for a in arms[1:]:
            out = out.unionByName(a)
        out = out.filter(pred_snap.delete_predicate).select(
            F.col("_pos_file").alias("file_path"),
            F.col("_pos_index").alias("pos"),
        )
    else:  # predicate committed against an empty table
        out = spark.createDataFrame([], "file_path string, pos long")
    (
        out.coalesce(1)
        .sortWithinPartitions("file_path", "pos")
        .write.mode("error")
        .parquet(str(out_dir))
    )


def _dv_entries_from_pos_dir(
    pos_dir: Path, puffin_path: Path
) -> list[dict[str, Any]]:
    """v3 delete representation: turn a computed (file_path, pos)
    position-delete directory into ONE puffin container holding one
    deletion-vector blob per referenced data file, and return the
    manifest entries addressing each blob (referenced_data_file +
    content_offset/content_size_in_bytes). Idempotent like the pos-dir
    computation itself: an existing container is reused via its own
    footer. Driver-side and bounded by the deleted-row count — the
    same envelope the position-delete write already had."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    from .puffin import (  # noqa: PLC0415
        dv_blob_serialize,
        read_puffin_footer,
        write_puffin,
    )

    if not puffin_path.exists():
        by_file: dict[str, list[int]] = {}
        for dp, _dirs, fs in os.walk(pos_dir):
            for f in fs:
                if not f.endswith(".parquet"):
                    continue
                t = pq.read_table(
                    os.path.join(dp, f), columns=["file_path", "pos"]
                )
                for fp, pos in zip(
                    t.column("file_path").to_pylist(),
                    t.column("pos").to_pylist(),
                ):
                    by_file.setdefault(fp, []).append(int(pos))
        blobs = [
            {
                "data": dv_blob_serialize(sorted(set(positions))),
                "type": "deletion-vector-v1",
                "fields": [],
                "properties": {
                    "referenced-data-file": fp,
                    "cardinality": str(len(set(positions))),
                },
            }
            for fp, positions in sorted(by_file.items())
        ]
        puffin_path.parent.mkdir(parents=True, exist_ok=True)
        write_puffin(puffin_path, blobs)
    raw = puffin_path.read_bytes()
    entries = []
    for desc in read_puffin_footer(raw):
        if desc.get("type") != "deletion-vector-v1":
            continue
        props = desc.get("properties") or {}
        entries.append(
            {
                "status": 1,  # ADDED
                "snapshot_id": None,  # inherited
                "sequence_number": None,  # inherited
                "file_sequence_number": None,
                "data_file": {
                    "content": 1,
                    "file_path": str(puffin_path),
                    "file_format": "PUFFIN",
                    "partition": {},
                    "record_count": int(props.get("cardinality", 0)),
                    "file_size_in_bytes": len(raw),
                    "referenced_data_file": props.get(
                        "referenced-data-file"
                    ),
                    "content_offset": desc["offset"],
                    "content_size_in_bytes": desc["length"],
                },
            }
        )
    return entries


def export_to_iceberg(
    table: LakeTable,
    spark=None,
    format_version: int | None = None,
) -> Path:
    """Write Iceberg metadata for the table's current state; returns
    the metadata directory. Repeated exports bump the metadata version
    (HadoopTables convention) and re-derive everything from the live
    LakeTable metadata + parquet footers.

    ``format_version``: None (default) auto-selects — v2 when the live
    set carries merge-on-read delete entries (which need spec v2
    delete files), else v1. ``format_version=3`` (opt-in, r14) exports
    position/predicate deletes as DELETION VECTORS — one puffin
    container per delete snapshot, one portable-roaring64 blob per
    referenced data file (puffin.py) — per the v3 rule that new
    position deletes must be DVs; equality deletes stay parquet (legal
    in v3). v3 metadata carries ``next-row-id`` and per-snapshot
    ``first-row-id`` (row-lineage assignment state); the avro-level
    row-lineage fields (first_row_id inheritance columns) are NOT
    emitted — documented divergence, ICEBERG_CONFORMANCE.md row 39.
    ``spark`` is required only when PREDICATE deletes are live: those
    export as position tuples computed at export time (module
    docstring)."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    has_deletes = any(s.is_row_delete for s in table.snapshots)
    fv = format_version if format_version is not None else (
        2 if has_deletes else 1
    )
    if fv not in (1, 2, 3):
        raise ValueError(f"unsupported iceberg format version {fv}")
    if fv == 1 and has_deletes:
        # a v1 export of data files alone would resurrect the deleted
        # rows — v1 has no delete-file representation
        raise RuntimeError(
            "table has merge-on-read delete entries in its live set; "
            "export as format_version=2 (delete-file manifests) or "
            "run compact() first to fold deletes into data"
        )
    has_predicate_deletes = any(
        s.delete_predicate for s in table.snapshots
    )
    if fv >= 2 and has_predicate_deletes and spark is None:
        raise RuntimeError(
            "predicate delete entries export as position-delete files "
            "computed at export time — pass spark=<SparkSession> to "
            "export_to_iceberg (or compact() first)"
        )
    # the exported schemas give a renamed column a fresh field id and
    # no name mapping, so files written under the old name would read
    # it as NULL in any Iceberg reader; compact() rewrites them
    for s in table._live_state(table.snapshots)[0]:
        ren = table._renames_since(s.schema_version)
        if ren:
            old, new = next(iter(ren.items()))
            raise RuntimeError(
                f"snapshot {s.snapshot_id} holds files written before "
                f"column {old!r} was renamed to {new!r}; the export "
                "cannot carry the rename to Iceberg readers — run "
                "compact() first to rewrite them under the current "
                "schema"
            )

    meta_dir = table.location / "metadata"
    meta_dir.mkdir(parents=True, exist_ok=True)

    schema_docs, current_schema_id, col_ids = (
        schema_history_to_iceberg(table)
    )
    last_column_id = col_ids.last
    schema_doc = next(
        d for d in schema_docs if d["schema-id"] == current_schema_id
    )

    # full partition-spec history with real spec ids; source-ids come
    # from the stable column-id registry so a spec referencing a column
    # only present in an older schema version still resolves
    current_spec_id = int(table.meta["current_spec_id"])
    # Spark-bucket-LAYOUT fields export as void (see spec_to_iceberg);
    # DUAL-layout files carry the spec's own murmur3 value in their
    # partition tuples (the hive dir level), so their field exports as
    # real bucket[N] and external readers prune correctly. Void only
    # when any live file's bucket value was minted by Spark's hash.
    _sbf = table._spark_bucket_field()
    _void = (
        frozenset({_sbf.name})
        if _sbf is not None
        and any(
            f.get("layout") == "spark-bucket"
            for s_ in table.snapshots
            for f in (s_.files or [])
        )
        else frozenset()
    )
    spec_docs = {
        sid: spec_to_iceberg(
            table.spec_at(sid),
            spec_id=sid,
            source_ids=col_ids,
            void_fields=_void,
        )
        for sid in sorted(int(s) for s in table.meta["specs"])
    }

    # source column types across all versions (later versions win) for
    # identity-partition value decoding
    src_types: dict[str, T.DataType] = {}
    for d in schema_docs:
        v_schema = table.schema_at(d["schema-id"])
        for f in v_schema.fields:
            src_types[f.name] = f.dataType

    def partition_fields_for(sid: int) -> list[dict[str, Any]]:
        spec = table.spec_at(sid)
        doc = spec_docs[sid]
        return [
            {
                "name": sf["name"],
                "field-id": sf["field-id"],
                "transform": sf["transform"],
                "avro_type": _partition_avro_type(
                    sf["transform"], src_types[pf.source_column]
                ),
                "source_column": pf.source_column,
            }
            for sf, pf in zip(doc["fields"], spec.fields)
        ]

    # the snapshot list IS the live set: _commit_snapshots collapses
    # it to one entry on every overwrite/update/delete/merge, so no
    # mid-list overwrite can exist here. Each snapshot contributes one
    # manifest: data snapshots a status=added data manifest under the
    # snapshot's OWN partition spec (per-manifest specs — how Iceberg
    # represents spec evolution); v2 delete snapshots a DELETE manifest
    # (content=1) under an unpartitioned spec (global scope).
    # manifest-rewrite snapshots (rewrite_manifests) expand into their
    # SOURCE snapshots: each source exports its own manifest under its
    # own spec/schema, so the exported document is IDENTICAL to the
    # pre-rewrite export (the rewrite is engine-side metadata hygiene;
    # external readers see the same files, ids, and lineage). The
    # chain is in sequence-number order — the live list's own order,
    # since sources precede their fold — as the spec requires of
    # parent links.
    datas, deletes = table._live_state(table.snapshots)
    live = sorted(datas + deletes, key=lambda s: s.sequence_number)

    # delete manifests scope globally -> they need an unpartitioned
    # spec to reference; synthesize one if no spec version is empty
    # (partition-specs may legally contain non-default specs)
    unpart_spec_id = next(
        (sid for sid, d in spec_docs.items() if not d["fields"]), None
    )
    if fv >= 2 and has_deletes and unpart_spec_id is None:
        unpart_spec_id = max(spec_docs) + 1
        spec_docs[unpart_spec_id] = {
            "spec-id": unpart_spec_id,
            "fields": [],
        }

    def _delete_file_entries(
        files: list[dict[str, Any]], content: int, eq_ids: list[int] | None
    ) -> list[dict[str, Any]]:
        out = []
        for f in files:
            df_rec: dict[str, Any] = {
                "content": content,
                "file_path": f["path"],
                "file_format": "PARQUET",
                "partition": {},
                "record_count": f["record_count"],
                "file_size_in_bytes": f["size_bytes"],
            }
            if eq_ids is not None:
                df_rec["equality_ids"] = eq_ids
            out.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": None,  # inherited (v2)
                    "sequence_number": None,  # inherited (v2)
                    "file_sequence_number": None,
                    "data_file": df_rec,
                }
            )
        return out

    def _own_outputs(root: Path) -> list[dict[str, Any]]:
        """Manifest-shaped entries (absolute path, record count, byte
        size) of the parquet files this export wrote under ``root``
        (its metadata/deletes outputs), in path order."""
        return [
            {
                "path": p,
                "record_count": pq.ParquetFile(p).metadata.num_rows,
                "size_bytes": os.path.getsize(p),
            }
            for p in sorted(
                os.path.join(dp, f)
                for dp, _dirs, fs in os.walk(root)
                for f in fs
                if f.endswith(".parquet")
            )
        ]

    def _manifest_files(snap: Snapshot) -> list[dict[str, Any]]:
        """The engine manifest of ``snap`` (its file list) in path
        order, with the absolute paths the exported manifests hold."""
        return [
            {**f, "path": str(table.location / f["path"])}
            for f in sorted(snap.files, key=lambda f: f["path"])
        ]

    # v3 row lineage (a42): when EVERY live data file's engine
    # manifest entry carries a commit-time first_row_id, the export
    # materializes them as explicit avro-level fields (data file 142,
    # manifest-list 520) and uses the recorded values for the
    # metadata-level assignment state; otherwise (pre-a42 or rewrite
    # histories) it falls back to the derived cursor with no
    # avro-level fields — the documented conformance-row-39 shape.
    lineage_ok = fv == 3 and all(
        f.get("first_row_id") is not None for s in datas for f in s.files
    )

    manifests: list[dict[str, Any]] = []
    for snap in live:
        sid = _snapshot_int_id(snap)
        if snap.is_row_delete:
            if snap.delete_keys_dir:
                # equality-delete: the lake's key parquet IS the spec
                # payload; equality_ids name the key columns' field IDs
                try:
                    eq_ids = [
                        col_ids._by_path[c] for c in snap.delete_key_cols
                    ]
                except KeyError as e:
                    raise ValueError(
                        f"equality-delete key column {e} not a known "
                        "schema column"
                    ) from None
                entries = _delete_file_entries(
                    _manifest_files(snap), 2, eq_ids
                )
            elif snap.delete_pos_dir:
                # native position delete: the lake file already holds
                # (file_path, pos) tuples, but with TABLE-RELATIVE
                # paths (portable across moves); the spec's delete
                # files must address data files exactly as the
                # manifests do (plain absolute paths) — rewrite at
                # export time, keeping the required (file, pos) order
                pos_dir = (
                    meta_dir / "deletes" / f"pos-{snap.snapshot_id}"
                )
                if not pos_dir.exists():
                    from pyspark.sql import functions as F  # noqa: PLC0415

                    (
                        spark.read.parquet(*table._paths(snap.files))
                        .select(
                            F.concat(
                                F.lit(str(table.location) + "/"),
                                F.col("file_path"),
                            ).alias("file_path"),
                            "pos",
                        )
                        .sort("file_path", "pos")
                        .coalesce(1)
                        .write.mode("error")
                        .parquet(str(pos_dir))
                    )
                entries = _delete_file_entries(
                    _own_outputs(pos_dir), 1, None
                )
            else:
                # predicate delete -> position-delete files computed
                # now (module docstring); lands under metadata/deletes
                # so the lake's orphan reaper (which scans data/) never
                # mistakes exported artifacts for write debris
                pos_dir = (
                    meta_dir / "deletes" / f"pos-{snap.snapshot_id}"
                )
                if not pos_dir.exists():
                    _write_position_deletes(spark, table, snap, pos_dir)
                entries = _delete_file_entries(
                    _own_outputs(pos_dir), 1, None
                )
            if fv == 3 and not snap.delete_keys_dir:
                # v3: the position tuples become deletion vectors —
                # one puffin blob per referenced file (pos_dir was
                # computed by whichever branch ran above)
                entries = _dv_entries_from_pos_dir(
                    pos_dir,
                    meta_dir / "deletes" / f"dv-{snap.snapshot_id}.puffin",
                )
            p_fields: list[dict[str, Any]] = []
            spec_id_for_manifest = unpart_spec_id
            content = 1
            entry_schema = _manifest_entry_schema(
                p_fields, fv, include_equality_ids=True,
                include_dv_fields=(fv == 3),
            )
        else:
            p_fields = partition_fields_for(snap.spec_id)
            spec_id_for_manifest = snap.spec_id
            content = 0
            entry_schema = _manifest_entry_schema(
                p_fields, fv, include_lineage_fields=lineage_ok
            )
            entries = []
            for f in _manifest_files(snap):
                rawparts = _raw_partition_values(
                    os.path.relpath(f["path"], table.location / snap.data_dir)
                )
                partition = {
                    pf["name"]: encode_partition_value(
                        pf["transform"],
                        rawparts.get(pf["name"], ""),
                        src_types[pf["source_column"]],
                    )
                    for pf in p_fields
                }
                entry: dict[str, Any] = {
                    "status": 1,  # ADDED
                    "snapshot_id": sid,
                    "data_file": {
                        "content": 0,
                        "file_path": f["path"],
                        "file_format": "PARQUET",
                        "partition": partition,
                        "record_count": f["record_count"],
                        "file_size_in_bytes": f["size_bytes"],
                        "block_size_in_bytes": 64 * 1024 * 1024,
                    },
                }
                if fv >= 2:
                    entry["sequence_number"] = None  # inherited
                    entry["file_sequence_number"] = None
                if lineage_ok:
                    entry["data_file"]["first_row_id"] = int(
                        f["first_row_id"]
                    )
                entries.append(entry)
        mpath = meta_dir / f"manifest-{snap.snapshot_id}.avro"
        write_ocf(
            str(mpath),
            entry_schema,
            entries,
            {
                "schema": json.dumps(schema_doc),
                "partition-spec": json.dumps(
                    spec_docs[spec_id_for_manifest]["fields"]
                ),
                "partition-spec-id": str(spec_id_for_manifest),
                "format-version": str(fv),
                "content": "deletes" if content == 1 else "data",
            },
        )
        manifests.append(
            {
                "manifest_path": str(mpath),
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": spec_id_for_manifest,
                "content": content,
                "sequence_number": snap.sequence_number,
                "min_sequence_number": snap.sequence_number,
                "added_snapshot_id": sid,
                "added_files_count": len(entries),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(
                    e["data_file"]["record_count"] for e in entries
                ),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                **(
                    {
                        "first_row_id": min(
                            e["data_file"]["first_row_id"]
                            for e in entries
                        )
                    }
                    if lineage_ok and content == 0 and entries
                    else {}
                ),
            }
        )

    now_ms = int(time.time() * 1000)

    def _mf_record(m: dict[str, Any]) -> dict[str, Any]:
        """Neutral accumulated entry -> the record the per-version
        manifest-list schema encodes (v2 renames the file-count
        fields; v1 ignores the v2-only keys)."""
        if fv == 1:
            return m
        rec = dict(m)
        for name in ("added", "existing", "deleted"):
            rec[f"{name}_data_files_count"] = rec.pop(
                f"{name}_files_count"
            )
        return rec

    list_schema = _manifest_file_schema(fv, include_lineage=lineage_ok)
    # one `snapshots` entry per contributing live snapshot, chained via
    # parent-snapshot-id, so every manifest's added_snapshot_id resolves
    # to a snapshot a reader can see (expire-snapshots / incremental
    # reads reject dangling references). Snapshot i's manifest list is
    # the cumulative prefix manifests[0..i] — the state of the table as
    # of that snapshot, which is what time-traveling Iceberg readers
    # resolve.
    snapshots_json: list[dict[str, Any]] = []
    current_id: int | None = None
    parent_id: int | None = None
    _row_id_cursor = 0
    for i, snap in enumerate(live):
        sid = _snapshot_int_id(snap)
        list_path = meta_dir / f"snap-{sid}-1-{uuid.uuid4()}.avro"
        write_ocf(
            str(list_path),
            list_schema,
            [_mf_record(m) for m in manifests[: i + 1]],
            {"format-version": str(fv)},
        )
        operation = (
            "append"
            if snap.operation == "append"
            else "delete"
            if snap.is_row_delete
            else "replace"
            if snap.operation == "replace"
            else "overwrite"
        )
        entry: dict[str, Any] = {
            "snapshot-id": sid,
            "timestamp-ms": snap.timestamp_ms,
            "manifest-list": str(list_path),
            "schema-id": snap.schema_version,
            "summary": {
                "operation": operation,
                "added-data-files": str(manifests[i]["added_files_count"]),
                "total-records": str(
                    sum(
                        m["added_rows_count"]
                        for m in manifests[: i + 1]
                        if m["content"] == 0
                    )
                ),
            },
        }
        if fv >= 2:
            entry["sequence-number"] = snap.sequence_number
        if fv >= 3:
            # v3 row lineage: each snapshot's first-row-id is the
            # row-id space consumed by all PRIOR data rows (deletes
            # assign no rows); next-row-id below continues from here.
            # With engine assignments (a42) the RECORDED base is
            # authoritative; the cursor is the fallback derivation.
            if lineage_ok and manifests[i].get("first_row_id") is not None:
                _row_id_cursor = manifests[i]["first_row_id"]
            entry["first-row-id"] = _row_id_cursor
            if manifests[i]["content"] == 0:
                _row_id_cursor += manifests[i]["added_rows_count"]
        if parent_id is not None:
            entry["parent-snapshot-id"] = parent_id
        snapshots_json.append(entry)
        parent_id = sid
    current_id = parent_id

    doc: dict[str, Any] = {
        "format-version": fv,
        "table-uuid": table.meta.get("table_uuid") or str(uuid.uuid4()),
        "location": str(table.location),
        "last-updated-ms": now_ms,
        "last-column-id": last_column_id,
        "schemas": schema_docs,
        "current-schema-id": current_schema_id,
        "partition-specs": list(spec_docs.values()),
        "default-spec-id": current_spec_id,
        "last-partition-id": max(
            [
                f["field-id"]
                for d in spec_docs.values()
                for f in d["fields"]
            ]
            + [999]
        ),
        # declared table sort order (write.sort-order / compact
        # sort_by): exported as a REAL sort-orders entry — order 0
        # (unsorted) stays present as the spec's baseline, order 1
        # carries the identity sort fields with source-ids from the
        # stable column-id registry (table_format._sort_fields is the
        # engine-side source of truth)
        **_sort_orders_json(table, col_ids),
        "properties": dict(table.meta.get("properties") or {}),
        "current-snapshot-id": current_id if current_id is not None else -1,
        "snapshots": snapshots_json,
        "snapshot-log": [
            {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
            for s in snapshots_json
        ],
        "metadata-log": [],
    }
    if fv == 1:
        # deprecated singular fields: required in v1, dropped in v2
        doc["schema"] = {
            k: v for k, v in schema_doc.items() if k != "schema-id"
        }
        doc["partition-spec"] = spec_docs[current_spec_id]["fields"]
    else:
        doc["last-sequence-number"] = int(
            table.meta.get("last_sequence_number", 0)
        )
    if fv >= 3:
        doc["next-row-id"] = (
            int(table.meta["next_row_id"])
            if lineage_ok and table.meta.get("next_row_id") is not None
            else _row_id_cursor
        )

    tags = table.meta.get("tags") or {}
    if tags or current_id is not None:
        # spec "refs" map: the main branch ref (Iceberg writers always
        # record it) plus one tag ref per engine tag, snapshot ids
        # mapped through the same stable int64 derivation. Only tags
        # naming EXPORTED (live) snapshots are written — a ref whose
        # snapshot-id resolves to nothing would violate referential
        # integrity (conformance rule 26); history-pinned tags are
        # engine-side state until their snapshot is republished.
        exported = {
            s.snapshot_id: _snapshot_int_id(s) for s in live
        }
        refs: dict = {}
        for name, sid in sorted(tags.items()):
            if sid in exported:
                refs[name] = {"snapshot-id": exported[sid], "type": "tag"}
        if current_id is not None:
            # written last: the main branch ref is authoritative and
            # must never be shadowed by a same-named tag
            refs["main"] = {"snapshot-id": current_id, "type": "branch"}
        if refs:
            doc["refs"] = refs

    hint_file = meta_dir / "version-hint.text"
    version = (
        int(hint_file.read_text().strip()) + 1 if hint_file.exists() else 1
    )
    # compact, as Iceberg Java writes it (and on CPython's C encoder)
    (meta_dir / f"v{version}.metadata.json").write_text(
        json.dumps(doc, separators=(",", ":"))
    )
    hint_file.write_text(str(version))
    return meta_dir


# ---------------------------------------------------------------------------
# Independent reader (used by tests as the "second engine"): reconstruct
# table rows from the exported Iceberg metadata ONLY — metadata.json via
# version-hint, manifest list + manifests via the JVM's Apache Avro
# implementation, data via spark.read.parquet on the listed file paths.
# ---------------------------------------------------------------------------


_FROM_ICEBERG: dict[str, T.DataType] = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampNTZType(),
    "timestamptz": T.TimestampType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    # Foreign-type fidelity (reference constants.py:64 TimeType, :80
    # UUIDType): Spark has no parquet-readable TIME or UUID type, so a
    # foreign Iceberg table's `time` column surfaces as micros-since-
    # midnight LONG and `uuid` as the canonical lowercase-hyphenated
    # STRING — exactly the representations config.py picks for the
    # same config types, so a foreign table and a config-created table
    # with the same logical schema are query-compatible. The physical
    # decode (INT64 TIME via explicit read schema, fixed[16] via
    # hex formatting) happens in read_iceberg_table.
    "uuid": T.StringType(),
    "time": T.LongType(),
}


def iceberg_type_to_spark(t: Any) -> T.DataType:
    """Inverse of _iceberg_type_stable — lets the external reader
    project each file by the *table* schema, the way Iceberg readers
    resolve files written under older schema versions."""
    if isinstance(t, str):
        if t.startswith("decimal"):
            p, s = t[t.index("(") + 1 : t.index(")")].split(",")
            return T.DecimalType(int(p), int(s))
        if t.startswith("fixed"):
            # fixed[N] -> binary (length is a write-side constraint;
            # Spark reads FIXED_LEN_BYTE_ARRAY as plain binary)
            return T.BinaryType()
        return _FROM_ICEBERG[t]
    kind = t["type"]
    if kind == "struct":
        return T.StructType(
            [
                T.StructField(
                    f["name"],
                    iceberg_type_to_spark(f["type"]),
                    not f["required"],
                )
                for f in t["fields"]
            ]
        )
    if kind == "list":
        return T.ArrayType(
            iceberg_type_to_spark(t["element"]), not t["element-required"]
        )
    if kind == "map":
        return T.MapType(
            iceberg_type_to_spark(t["key"]),
            iceberg_type_to_spark(t["value"]),
            not t["value-required"],
        )
    raise ValueError(f"unknown iceberg type {t!r}")


def _norm_file_path(p: str) -> str:
    """``file:///x`` / ``file:/x`` -> ``/x`` — the ONE normalization
    every join key against ``_metadata.file_path`` uses (lineage map,
    position-delete/DV anti-join). Keep the Column-side
    ``F.regexp_replace(..., "^file:/+", "/")`` expressions in sync
    with this (r15 review: three drifting copies)."""
    import re as _re  # noqa: PLC0415

    return _re.sub("^file:/+", "/", str(p))


def read_iceberg_table(
    spark, location: str | Path, snapshot_id=None, metadata_file=None,
    lineage: bool = False,
):
    """Open an Iceberg v1/v2 table directory the way a HadoopTables
    reader does.

    ``lineage=True`` (v3 tables only, r15 — VERDICT r14 item 4)
    surfaces the spec's row-lineage columns ``_row_id`` and
    ``_last_updated_sequence_number``: explicit ``first_row_id``
    fields on manifest-list entries / data-file entries are honored
    when present; otherwise ids are derived by the spec's inheritance
    rule (snapshot ``first-row-id`` + cumulative record counts of
    preceding ADDED files, ``_row_id = first_row_id + _pos``).
    Unassignable lineage — a pre-v3 table, a snapshot without
    ``first-row-id``, or an EXISTING entry without an explicit id —
    refuses loudly rather than inventing ids. Avro decoding is delegated to org.apache.avro (Spark's
    JVM) — an implementation this package did not write. Files written
    under older schema versions are resolved to the current table
    schema (null-fill added columns, cast promoted types), matching
    Iceberg's name/ID-based read-time projection.

    ``snapshot_id`` time-travels: read the state AS OF that exported
    snapshot (its own manifest list), the way Iceberg readers resolve
    a snapshot-id read — delete files in that list still apply by the
    same sequence-number rules, so traveling to the delete half of a
    MoR pair sees the masked state.

    v2 row-level deletes are applied per the spec's sequence-number
    rules: EQUALITY delete files (content=2) anti-join data arms whose
    manifest sequence number is STRICTLY smaller, on the columns named
    by ``equality_ids``; POSITION delete files (content=1) anti-join on
    (file_path, pos) — their file references pin exact rows, so
    applying them to every arm is equivalent to the seq<= rule."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    location = Path(location)
    meta_dir = location / "metadata"
    if metadata_file is None:
        # HadoopTables resolution: version hint names the current file
        version = (meta_dir / "version-hint.text").read_text().strip()
        metadata_file = meta_dir / f"v{version}.metadata.json"
    # catalog resolution passes metadata_file directly (a Glue pointer
    # read never consults the hint — glue_catalog.py)
    doc = json.loads(Path(metadata_file).read_text())
    # format-version gate (r14, VERDICT r13 item 8): v1/v2 in full;
    # v3 accepted as a v2 superset — row-lineage manifest fields are
    # ignorable metadata, `initial-default` column defaults ARE
    # implemented (below), and the three v3 surfaces this reader does
    # not decode (deletion vectors, variant/unknown/geo types,
    # nanosecond timestamps) refuse LOUDLY at their exact feature
    # site instead of silently misreading. ICEBERG_CONFORMANCE.md
    # rows 35-38.
    fv = int(doc.get("format-version", 1))
    if fv > 3:
        raise ValueError(
            f"Iceberg format-version {fv} is newer than this reader "
            "(v1-v3 with documented v3 limits) — refusing rather than "
            "misreading unknown metadata"
        )
    want_id = (
        doc["current-snapshot-id"] if snapshot_id is None else snapshot_id
    )
    snap = next(
        (s for s in doc["snapshots"] if s["snapshot-id"] == want_id),
        None,
    )
    if snapshot_id is not None and snap is None:
        raise ValueError(
            f"snapshot {snapshot_id} not in exported metadata"
        )
    current_schema = next(
        s
        for s in doc["schemas"]
        if s["schema-id"] == doc["current-schema-id"]
    )

    # v3 type surface this reader does not decode — loud refusal with
    # the exact field path (the same posture as nested uuid/time).
    # TOP-LEVEL `variant` is decoded since r16 (unshredded binary ->
    # JSON string surface, ICEBERG_CONFORMANCE.md row 43); nested
    # variant and the rest of the class still refuse.
    _V3_UNSUPPORTED_TYPES = (
        "variant", "unknown", "geometry", "geography",
        "timestamp_ns", "timestamptz_ns",
    )
    variant_cols = {
        f["name"]
        for f in current_schema["fields"]
        if f["type"] == "variant"
    }

    def _scan_unsupported(ty: Any, path: str) -> "tuple[str, str] | None":
        if isinstance(ty, str):
            base = ty.split("(", 1)[0]
            if base in _V3_UNSUPPORTED_TYPES:
                return path, ty
            return None
        kind = ty.get("type")
        if kind == "struct":
            for sf in ty["fields"]:
                hit = _scan_unsupported(sf["type"], f"{path}.{sf['name']}")
                if hit:
                    return hit
        elif kind == "list":
            return _scan_unsupported(ty["element"], f"{path}.element")
        elif kind == "map":
            return _scan_unsupported(
                ty["key"], f"{path}.key"
            ) or _scan_unsupported(ty["value"], f"{path}.value")
        return None

    for f in current_schema["fields"]:
        if f["name"] in variant_cols:
            continue  # top-level variant decodes (row 43)
        hit = _scan_unsupported(f["type"], f["name"])
        if hit:
            raise ValueError(
                f"field {hit[0]!r} has v3 type {hit[1]!r}, which this "
                "reader does not decode (nested variant/unknown/geo/"
                "ns-timestamp) — project it away with the writing "
                "engine or read via an engine with v3 type support "
                "(ICEBERG_CONFORMANCE.md rows 37/43)"
            )

    # v3 `initial-default`: files written before the field existed
    # read as the default, NOT null (spec: default applies to
    # pre-evolution files; files that materialize the column keep
    # their own values, including real nulls). Top-level primitives
    # only — a nested or non-primitive default refuses loudly.
    # Whitelist of primitive types whose Iceberg JSON single-value
    # encoding a Spark cast decodes CORRECTLY. binary/fixed encode as
    # HEX strings — casting that text to BinaryType keeps the UTF-8
    # bytes of the hex, a silent misread — and `time` ("HH:MM:SS.ff")
    # maps to micros-since-midnight LONG here, which a string cast
    # nulls; both refuse loudly instead (r15 ADVICE; same posture as
    # the nested-type refusal below). `uuid` IS whitelisted: this
    # reader surfaces uuid columns as the canonical lowercase string,
    # which is exactly the JSON default encoding.
    _CASTABLE_DEFAULT_TYPES = (
        "boolean", "int", "long", "float", "double", "string", "date",
        "timestamp", "timestamptz", "uuid",
    )
    column_defaults: dict[str, Any] = {}
    for f in current_schema["fields"]:
        if "initial-default" in f and f["initial-default"] is not None:
            if not isinstance(f["type"], str):
                raise ValueError(
                    f"field {f['name']!r} carries initial-default on a "
                    "nested type — this reader implements defaults for "
                    "top-level primitive columns only "
                    "(ICEBERG_CONFORMANCE.md row 36)"
                )
            if not (
                f["type"] in _CASTABLE_DEFAULT_TYPES
                or f["type"].startswith("decimal")
            ):
                raise ValueError(
                    f"field {f['name']!r} carries initial-default on "
                    f"type {f['type']!r}, whose JSON single-value "
                    "encoding (hex/uuid text) a string cast would "
                    "silently misread as raw bytes — decode not "
                    "implemented; drop the default or materialize the "
                    "column with the writing engine "
                    "(ICEBERG_CONFORMANCE.md row 36)"
                )
            column_defaults[f["name"]] = f["initial-default"]

    table_schema = T.StructType(
        [
            T.StructField(
                f["name"],
                # variant surfaces as its deterministic JSON text
                # (decoded in _open_data_files; row 43)
                T.StringType()
                if f["name"] in variant_cols
                else iceberg_type_to_spark(f["type"]),
                not f["required"],
            )
            for f in current_schema["fields"]
        ]
    )
    # foreign-type physical decode (spec types Spark's parquet reader
    # can't surface natively — see _FROM_ICEBERG's uuid/time entries):
    uuid_cols = {
        f["name"] for f in current_schema["fields"] if f["type"] == "uuid"
    }
    time_cols = {
        f["name"] for f in current_schema["fields"] if f["type"] == "time"
    }

    def _nested_special(t: Any, path: str) -> "str | None":
        # NESTED uuid/time would silently decode to garbage (binary
        # cast to string) or crash inference — loud and early instead
        if isinstance(t, str):
            return path if t in ("uuid", "time") else None
        kind = t.get("type")
        if kind == "struct":
            for f in t["fields"]:
                hit = _nested_special(f["type"], f"{path}.{f['name']}")
                if hit:
                    return hit
        elif kind == "list":
            return _nested_special(t["element"], f"{path}.element")
        elif kind == "map":
            return _nested_special(
                t["key"], f"{path}.key"
            ) or _nested_special(t["value"], f"{path}.value")
        return None

    for f in current_schema["fields"]:
        if isinstance(f["type"], dict):
            hit = _nested_special(f["type"], f["name"])
            if hit:
                raise ValueError(
                    f"nested uuid/time field {hit!r}: the physical "
                    "decode (fixed[16] -> canonical string, INT64 TIME "
                    "-> micros long) is implemented for top-level "
                    "columns only — restructure the projection or read "
                    "the file directly (ICEBERG_CONFORMANCE.md row 33)"
                )

    _VARIANT_PHYS = T.StructType(
        [
            T.StructField("metadata", T.BinaryType(), True),
            T.StructField("value", T.BinaryType(), True),
        ]
    )

    def _probe_variant_physical(files: list[str]) -> None:
        # driver-side footer probe (metadata-priced, like the export's
        # own stats pass): every file carrying a variant column must
        # hold the UNSHREDDED layout — struct of exactly
        # metadata/value binaries. A `typed_value` child means the
        # file is SHREDDED, a different physical layout this reader
        # refuses loudly instead of silently null-reading (row 43).
        import pyarrow as _pa  # noqa: PLC0415
        import pyarrow.parquet as _pq  # noqa: PLC0415

        for fp in files:
            # manifests from real writers record file: URIs — pyarrow
            # needs a local path (same normalization _default_groups'
            # footer probe applies; r16 review finding)
            local = _norm_file_path(fp)
            sch = _pq.ParquetFile(local).schema_arrow
            for c in variant_cols:
                if c not in sch.names:
                    continue  # pre-evolution file: null-fills
                ftype = sch.field(c).type
                if not _pa.types.is_struct(ftype):
                    raise ValueError(
                        f"variant column {c!r} in {fp!r} is not a "
                        "struct — not a variant encoding this reader "
                        "understands (ICEBERG_CONFORMANCE.md row 43)"
                    )
                children = {
                    ftype.field(i).name for i in range(ftype.num_fields)
                }
                if "typed_value" in children:
                    raise ValueError(
                        f"variant column {c!r} in {fp!r} is SHREDDED "
                        "(typed_value present) — this reader decodes "
                        "unshredded variants only; rewrite unshredded "
                        "or read with a shredding-aware engine "
                        "(ICEBERG_CONFORMANCE.md row 43)"
                    )
                if not {"metadata", "value"} <= children:
                    raise ValueError(
                        f"variant column {c!r} in {fp!r} lacks the "
                        "metadata/value pair (has "
                        f"{sorted(children)}) — not an unshredded "
                        "variant (ICEBERG_CONFORMANCE.md row 43)"
                    )

    def _open_data_files(files: list[str]):
        if variant_cols:
            _probe_variant_physical(files)
        if time_cols or uuid_cols:
            # Spark rejects parquet's TIME logical type (and the UUID
            # logical type real Iceberg writers annotate on fixed[16])
            # at schema inference ([PARQUET_TYPE_ILLEGAL]); an EXPLICIT
            # schema reads the underlying INT64 as micros-since-
            # midnight and the fixed[16] as plain binary. Type-promoted
            # history under the explicit schema relies on Spark 4's
            # parquet widening (int32 files read as long — pinned in
            # test_foreign_uuid_time_with_promoted_history).
            # uuid fields read as binary here and convert below.
            read_schema = T.StructType(
                [
                    T.StructField(
                        f.name,
                        T.BinaryType()
                        if f.name in uuid_cols
                        else (
                            _VARIANT_PHYS
                            if f.name in variant_cols
                            else f.dataType
                        ),
                        True,
                    )
                    for f in table_schema.fields
                ]
                + (
                    # materialized row lineage must survive the
                    # explicit-schema read path too — omitting the
                    # columns here silently fell back to positional
                    # ids for rewritten files (r16 review finding);
                    # files without them read as nulls -> positional
                    [
                        T.StructField("_row_id", T.LongType(), True),
                        T.StructField(
                            "_last_updated_sequence_number",
                            T.LongType(),
                            True,
                        ),
                    ]
                    if lineage
                    else []
                )
            )
            raw = spark.read.schema(read_schema).parquet(*files)
        else:
            raw = spark.read.parquet(*files)
        for c in variant_cols:
            if c in raw.columns and isinstance(
                raw.schema[c].dataType, T.StructType
            ):
                # unshredded variant -> deterministic JSON text.
                # Arrow-batched pandas UDF: the binary decode is
                # genuinely inexpressible in built-ins, and the
                # struct<binary,binary> column arrives as a pandas
                # DataFrame per batch (row 43).
                raw = raw.withColumn(c, _variant_json_udf()(F.col(c)))
        for c in uuid_cols:
            if c in raw.columns and isinstance(
                raw.schema[c].dataType, T.BinaryType
            ):
                # fixed[16] -> canonical lowercase-hyphenated form,
                # the string representation config.py's `uuid` uses
                h = F.lower(F.hex(F.col(c)))
                raw = raw.withColumn(
                    c,
                    F.when(F.col(c).isNull(), F.lit(None).cast("string"))
                    .otherwise(
                        F.concat_ws(
                            "-",
                            F.substring(h, 1, 8),
                            F.substring(h, 9, 4),
                            F.substring(h, 13, 4),
                            F.substring(h, 17, 4),
                            F.substring(h, 21, 12),
                        )
                    ),
                )
        return raw
    # Iceberg readers take file paths from manifests verbatim and never
    # run directory/partition discovery (partition values live in the
    # manifest, source columns in the files). Spark's reader insists on
    # discovery, which conflicts across snapshot roots — but within one
    # manifest all files share a single snapshot root with a consistent
    # layout, so scan one manifest per read and union the (metadata-
    # sized) manifest arms, each aligned to the table schema (the same
    # recursive null-fill/cast/reorder the engine's own scan uses).
    from .table_format import _align_df  # noqa: PLC0415

    mlist = (
        read_avro_jvm(spark, snap["manifest-list"])
        if snap is not None
        else []
    )
    data_ms = [m for m in mlist if m.get("content") in (None, 0)]
    del_ms = [m for m in mlist if m.get("content") == 1]

    # read each data manifest once; the arm loop below and the lineage
    # derivation share the entries
    data_entries: dict[str, list[dict]] = {
        m["manifest_path"]: [
            e
            for e in read_avro_jvm(spark, m["manifest_path"])
            if e["status"] != 2  # not DELETED
        ]
        for m in data_ms
    }

    lineage_df = None
    if lineage:
        if fv < 3:
            raise ValueError(
                f"row lineage requires format-version 3 (table is v{fv})"
                " — _row_id/_last_updated_sequence_number do not exist "
                "before v3"
            )

        snap_first = {
            s["snapshot-id"]: s.get("first-row-id")
            for s in doc["snapshots"]
        }
        # derived bases consume the row-id space per ADDING snapshot,
        # in manifest-list order (the spec writes explicit ids; this
        # inheritance path serves writers — like this repo's own v3
        # export — that record only snapshot first-row-id)
        snap_cursor: dict[int, int] = {}
        lineage_rows: list[tuple[str, int, int]] = []
        for m in data_ms:
            entries = data_entries[m["manifest_path"]]
            explicit_base = m.get("first_row_id")
            sid = m.get("added_snapshot_id")
            if explicit_base is not None:
                base = int(explicit_base)
            else:
                base0 = snap_first.get(sid)
                if base0 is None and any(
                    e["data_file"].get("first_row_id") is None
                    for e in entries
                ):
                    raise ValueError(
                        f"manifest {m['manifest_path']!r} carries no "
                        "first_row_id, its snapshot records no "
                        "first-row-id, and an entry lacks an explicit "
                        "id — row lineage is unassignable"
                    )
                base = (
                    int(base0) + snap_cursor.get(sid, 0)
                    if base0 is not None
                    else 0
                )
            cum = 0
            for e in entries:
                d = e["data_file"]
                fr = d.get("first_row_id")
                if fr is None:
                    if e["status"] != 1:
                        raise ValueError(
                            f"EXISTING manifest entry for "
                            f"{d['file_path']!r} has no explicit "
                            "first_row_id — the spec requires existing "
                            "entries to materialize their assignment; "
                            "row lineage is unassignable"
                        )
                    fr = base + cum
                seq = e.get("sequence_number")
                if seq is None:
                    seq = m.get("sequence_number", 0)
                lineage_rows.append(
                    (
                        _norm_file_path(d["file_path"]),
                        int(fr),
                        int(seq),
                        int(d["record_count"]),
                    )
                )
                if e["status"] == 1:
                    cum += int(d["record_count"])
            # the id space a manifest's ADDED rows occupy is consumed
            # regardless of whether its base was explicit or derived —
            # otherwise a later derived-base manifest of the same
            # snapshot would silently reuse an explicit sibling's block
            # (r15 review finding)
            if snap_first.get(sid) is not None:
                snap_cursor[sid] = snap_cursor.get(sid, 0) + cum
        # a file re-listed across manifests (EXISTING after a rewrite)
        # must carry ONE consistent assignment: dedupe identical
        # entries so the join stays 1:1, refuse on conflict
        by_path: dict[str, tuple[int, int, int]] = {}
        for path, fr, seq, n in lineage_rows:
            prev = by_path.get(path)
            if prev is not None and prev != (fr, seq, n):
                raise ValueError(
                    f"conflicting row-lineage assignments for {path!r}: "
                    f"{prev} vs {(fr, seq, n)} — refusing rather than "
                    "returning ambiguous _row_ids"
                )
            by_path[path] = (fr, seq, n)
        lineage_rows = [
            (path, fr, seq, n)
            for path, (fr, seq, n) in by_path.items()
        ]
        # global invariant: per-file id blocks [first, first+rows) must
        # be disjoint — a writer that rebased explicit ids out of
        # canonical order would otherwise surface duplicate _row_ids
        # silently. Metadata-sized check, refuses loudly.
        spans = sorted(
            (fr, fr + n, path) for path, fr, _seq, n in lineage_rows
        )
        for (a0, a1, pa), (b0, _b1, pb) in zip(spans, spans[1:]):
            if b0 < a1:
                raise ValueError(
                    f"row-lineage id blocks overlap: {pa!r} occupies "
                    f"[{a0}, {a1}) and {pb!r} starts at {b0} — the "
                    "table's first_row_id assignment is inconsistent; "
                    "refusing rather than returning duplicate _row_ids"
                )
        lineage_df = spark.createDataFrame(
            [(p, f, q) for p, f, q, _n in lineage_rows],
            "_ice_file string, _lin_first long, _lin_seq long",
        )

    eq_dels: list[tuple[int, dict]] = []
    pos_dels: list[dict] = []
    dv_entries: list[tuple[int, dict]] = []
    for m in del_ms:
        for e in read_avro_jvm(spark, m["manifest_path"]):
            if e["status"] == 2:  # DELETED
                continue
            d = e["data_file"]
            # v3 deletion vectors (r14, second pass: DECODED, not
            # refused): puffin-encoded portable-roaring64 bitmaps of
            # deleted positions, one per referenced data file —
            # puffin.py implements the container + blob + bitmap
            # formats from the public specs, with loud refusals on
            # compressed/corrupt payloads.
            if (
                d.get("referenced_data_file") is not None
                or str(d.get("file_format", "")).upper() == "PUFFIN"
            ):
                seq = e.get("sequence_number")
                if seq is None:
                    seq = m["sequence_number"]
                dv_entries.append((seq, d))
                continue
            # sequence-number inheritance: entry null -> manifest-list
            seq = e.get("sequence_number")
            if seq is None:
                seq = m["sequence_number"]
            if d["content"] == 2:
                eq_dels.append((seq, d))
            elif d["content"] == 1:
                pos_dels.append(d)
    # deletion vectors: decode per referenced file, LATEST sequence
    # wins (v3 contract: a new DV for a file REPLACES its predecessor
    # — the bitmap carries the full deleted set, deltas are never
    # merged across DVs)
    dv_rows: list[tuple[str, int]] = []
    if dv_entries:
        from .puffin import read_dv_for_file, read_puffin_footer  # noqa: PLC0415

        _norm = _norm_file_path
        latest: dict[str, tuple[int, dict]] = {}
        for seq, d in dv_entries:
            ref = _norm(d.get("referenced_data_file") or "")
            if not ref:
                raise ValueError(
                    "puffin delete entry without referenced_data_file "
                    f"({d.get('file_path')!r}) — not a valid v3 "
                    "deletion vector"
                )
            if ref not in latest or seq > latest[ref][0]:
                latest[ref] = (seq, d)
        for ref, (_seq, d) in latest.items():
            ppath = _norm(d["file_path"])
            off = d.get("content_offset")
            ln = d.get("content_size_in_bytes")
            if off is None or ln is None:
                # locate by footer properties when the manifest lacks
                # the coordinates (writers must record them; tolerate
                # a footer-only layout rather than misread)
                raw = Path(ppath).read_bytes()
                hit = next(
                    (
                        b for b in read_puffin_footer(raw)
                        if b.get("type") == "deletion-vector-v1"
                        and _norm(
                            (b.get("properties") or {}).get(
                                "referenced-data-file", ""
                            )
                        ) == ref
                    ),
                    None,
                )
                if hit is None:
                    raise ValueError(
                        f"no deletion-vector blob for {ref!r} in "
                        f"{ppath!r} and the manifest carries no "
                        "content_offset"
                    )
                off, ln = hit["offset"], hit["length"]
            dv_rows.extend(
                (ref, int(p)) for p in read_dv_for_file(ppath, off, ln)
            )
    need_pos = bool(pos_dels or dv_rows)
    # equality_ids -> column names via the current schema's field IDs
    id_to_name = {f["id"]: f["name"] for f in current_schema["fields"]}
    pos_df = None
    if need_pos:
        parts = []
        if pos_dels:
            parts.append(
                spark.read.parquet(*[d["file_path"] for d in pos_dels])
                .select(
                    F.col("file_path").alias("_ice_file"),
                    F.col("pos").alias("_ice_pos"),
                )
            )
        if dv_rows:
            parts.append(
                spark.createDataFrame(
                    dv_rows, "_ice_file string, _ice_pos long"
                )
            )
        pos_df = parts[0]
        for extra in parts[1:]:
            pos_df = pos_df.unionByName(extra)
        pos_df = pos_df.distinct()

    def _default_groups(files: list) -> "list[tuple[list, set]]":
        """Partition a manifest's files by WHICH default-bearing
        columns each file's own footer lacks. One manifest can mix
        pre- and post-evolution files (Iceberg writers merge manifests
        on append; rewrite_manifests folds them in-engine), and a
        single merged spark.read would infer ONE schema for the arm —
        filling per inferred-arm schema either skips the default
        (column inferred present, pre-evolution rows read null) or
        stomps real values (column inferred absent). Per-FILE footer
        grouping (driver-side, footer-priced — the same cost class as
        the manifest reads) keeps the fill exact. (r14 review
        finding.)"""
        if not column_defaults:
            return [(files, set())]
        import pyarrow.parquet as pq  # noqa: PLC0415

        groups: dict[frozenset, list] = {}
        for fp in files:
            local = _norm_file_path(fp)
            names = set(pq.read_schema(local).names)
            missing = frozenset(
                c for c in column_defaults if c not in names
            )
            groups.setdefault(missing, []).append(fp)
        return [(fs, set(m)) for m, fs in groups.items()]

    df = None
    for m in data_ms:
        arm_seq = m.get("sequence_number", 0)
        files = [
            e["data_file"]["file_path"]
            for e in data_entries[m["manifest_path"]]
        ]
        if not files:
            continue
        arm = None
        for group_files, missing_defaults in _default_groups(files):
            raw = _open_data_files(group_files)
            if need_pos or lineage:
                extra = {
                    "_ice_file": F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:/+", "/"
                    ),
                    "_ice_pos": F.col("_metadata.row_index"),
                }
                if lineage:
                    # physically MATERIALIZED lineage (a43): a rewrite
                    # that carried row ids wrote _row_id /
                    # _last_updated_sequence_number into the data file
                    # itself; the spec's rule is materialized values
                    # take precedence over positional inheritance
                    # (matched here by column name — this engine's
                    # parquet carries no field-id metadata)
                    for src, dst in (
                        ("_row_id", "_mat_row_id"),
                        ("_last_updated_sequence_number", "_mat_seq"),
                    ):
                        extra[dst] = (
                            F.col(src).cast("long")
                            if src in raw.columns
                            else F.lit(None).cast("long")
                        )
                sub = _align_df(
                    raw.select("*", *[e.alias(n) for n, e in extra.items()]),
                    table_schema,
                    keep=list(extra),
                )
                if lineage:
                    # per-file assignment base joins in broadcast
                    # (metadata-sized); _row_id = coalesce(materialized,
                    # first_row_id + _pos). Computed BEFORE position
                    # deletes/DVs apply, so a masked row never shifts
                    # its survivors' ids.
                    sub = (
                        sub.join(F.broadcast(lineage_df), "_ice_file")
                        .withColumn(
                            "_row_id",
                            F.coalesce(
                                F.col("_mat_row_id"),
                                F.col("_lin_first") + F.col("_ice_pos"),
                            ),
                        )
                        .withColumn(
                            "_last_updated_sequence_number",
                            F.coalesce(
                                F.col("_mat_seq"), F.col("_lin_seq")
                            ),
                        )
                        .drop(
                            "_lin_first", "_lin_seq",
                            "_mat_row_id", "_mat_seq",
                        )
                    )
                if need_pos:
                    sub = sub.join(
                        pos_df, ["_ice_file", "_ice_pos"], "left_anti"
                    )
                sub = sub.drop("_ice_file", "_ice_pos")
            else:
                sub = _align_df(raw, table_schema)
            # initial-default fill: only for columns THIS FILE GROUP
            # lacks in its own footers (alignment null-filled them);
            # files that carry the column keep their own values, real
            # nulls included
            for cname in missing_defaults:
                sub = sub.withColumn(
                    cname,
                    F.lit(column_defaults[cname]).cast(
                        table_schema[cname].dataType
                    ),
                )
            arm = sub if arm is None else arm.unionByName(sub)
        for dseq, d in eq_dels:
            if dseq <= arm_seq:
                continue  # strictly-smaller rule
            cols = [id_to_name[i] for i in (d.get("equality_ids") or [])]
            keys = spark.read.parquet(d["file_path"]).select(
                *[
                    F.col(c).cast(table_schema[c].dataType).alias(c)
                    for c in cols
                ]
            )
            arm = arm.join(keys, cols, "left_anti")
        df = arm if df is None else df.unionByName(arm)
    if df is None:
        # empty live set (never written, or everything deleted):
        # an empty frame with the table schema, like any SQL engine
        empty_schema = table_schema
        if lineage:
            empty_schema = T.StructType(
                list(table_schema.fields)
                + [
                    T.StructField("_row_id", T.LongType(), True),
                    T.StructField(
                        "_last_updated_sequence_number", T.LongType(), True
                    ),
                ]
            )
        df = spark.createDataFrame([], empty_schema)
    return df, doc


def read_avro_jvm(spark, path: str) -> list[dict[str, Any]]:
    """Read an Avro OCF through the bundled Apache Avro Java library
    (independent of avro_ocf.py), returning records as plain dicts."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(str(path)),
        jvm.org.apache.avro.generic.GenericDatumReader(),
    )
    out = []
    while reader.hasNext():
        out.append(_jrecord_to_py(reader.next()))
    reader.close()
    return out


def _jrecord_to_py(obj: Any) -> Any:
    cls = obj.getClass().getName() if hasattr(obj, "getClass") else None
    if cls is None:
        return obj
    if "GenericData$Record" in cls:
        schema = obj.getSchema()
        return {
            f.name(): _jrecord_to_py(obj.get(f.name()))
            for f in schema.getFields()
        }
    if "Utf8" in cls:
        return str(obj)
    if cls in ("java.lang.Long", "java.lang.Integer"):
        return int(obj.longValue() if cls.endswith("Long") else obj.intValue())
    if "GenericData$Array" in cls:  # e.g. equality_ids
        return [_jrecord_to_py(obj.get(i)) for i in range(obj.size())]
    return obj
