"""Lakehouse table format: versioned schemas + snapshot log + hidden
partitioning over Spark-written parquet.

Why this module exists: the reference manages **Apache Iceberg** tables
through PyIceberg + a Glue/SQLite catalog
(``/root/reference/lambda/iceberg_helper.py:104-122,226-245``). This
environment has no Iceberg runtime jar and installs are forbidden, so
the engine carries its own thin, Iceberg-modeled table layer — the same
externally observable contract (CREATE / schema evolution without data
rewrite / partition-spec evolution / snapshot appends / hidden-partition
pruning), realized with Spark-native parquet IO:

- metadata: ``{location}/_meta/v{N}.metadata.json`` + ``version-hint``
  (Iceberg's metadata-file + hint pattern). The JSON is written with
  **Iceberg-spec field names** (see mapping below) so a future swap to a
  real Iceberg runtime is a mechanical re-pointing, not a migration.

On-disk metadata field mapping (in-memory key -> Iceberg spec name; the
spec names follow the public Apache Iceberg table-spec "Table Metadata"
section). Entries marked *ext* are engine extensions the spec keeps
elsewhere (catalog / manifests) or not at all:

====================  =========================  =========================
in-memory key         on-disk (Iceberg spec)     notes
====================  =========================  =========================
format_version        format-version             spec v1 semantics
table_uuid            table-uuid                 minted at CREATE
identifier            identifier                 *ext* — spec keeps the
                                                 identifier in the catalog
location              location
last_sequence_number  last-sequence-number       monotonic per commit
(derived)             last-updated-ms            stamped at commit
current_schema_version current-schema-id
schemas               schemas                    list of {"schema-id": N,
                                                 "spark-type": {...}};
                                                 *ext*: payload is a Spark
                                                 StructType JSON, not
                                                 Iceberg field JSON (no
                                                 per-field field-ids)
current_spec_id       default-spec-id
specs                 partition-specs            list of {"spec-id": N,
                                                 "fields": [...]}
properties            properties
snapshots             snapshots                  per-snapshot keys below
(derived)             current-snapshot-id        last live snapshot
snapshot_history      snapshot-history           *ext* — spec expires
                                                 snapshots instead
sort_order            sort-orders +              minimal spec shape:
                      default-sort-order-id      identity/asc/nulls-first
====================  =========================  =========================

Per-snapshot mapping: snapshot_id -> snapshot-id, sequence_number ->
sequence-number, timestamp_ms -> timestamp-ms, operation ->
summary.operation, schema_version -> schema-id, spec_id ->
partition-spec-id (*ext* — the spec records the spec in manifests),
data_dir -> data-dir (*ext* — the directory the entry's files were
written under), files -> manifest (*ext* — the entry's file list, kept
inline instead of in manifest files).
- each append = one snapshot = one directory ``data/snap-{id}/`` written
  by ``df.write.partitionBy(_p_*)`` (hive-style dirs); the commit
  manifest lists its files with stats and partition tuple, and every
  scan reads exactly the listed files — pruned on those stats and
  tuples, never on a directory listing.
- schema evolution rewrites **metadata only**; old data files are
  reconciled to the current schema at scan time by a name-based
  recursive alignment (add -> null-fill, type update -> cast, reorder ->
  select order, nested adds inside structs and array-element structs),
  matching the reference's name-keyed diff semantics
  (``iceberg_helper.py:254-295``).

Scale posture: scans build one DataFrame per live data entry (a
manifest fold expands to its sources) and union them; all row work
stays in Catalyst (casts/struct rebuilds are codegen'd, no Python row
path). Appends never list old data; scans never touch the driver beyond
metadata JSON.
"""

from __future__ import annotations

import contextlib
import copy
import json
import re
import time
import uuid
from collections.abc import Collection, Iterator
from dataclasses import dataclass
from pathlib import Path
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .fileio import FileIO, LocalFileIO
from .partitioning import (
    PARTITION_COL_PREFIX,
    PartitionField,
    PartitionSpec,
    spark_bucket_of,
)

# Spark bucket files carry their bucket id in the name:
# part-00000-<uuid>_00007.c000.snappy.parquet -> bucket 7
_SPARK_BUCKET_FILE_RE = re.compile(r"_(\d{5})\.c\d+")

FORMAT_VERSION = 1

# Equality-delete key files broadcast at scan/merge time only below this
# on-disk size (parquet bytes; decompressed in-memory rows are a few x
# larger). Above it the join falls back to AQE's strategy choice — an
# explicit F.broadcast() hint is NEVER demoted by AQE, so force-
# broadcasting an unbounded bulk-upsert key set would risk driver and
# executor OOM at exactly the 100 TB scale the MoR path exists for.
_BROADCAST_KEYFILE_MAX_BYTES = 32 * 1024 * 1024


class TableFormatError(RuntimeError):
    pass


@dataclass
class Snapshot:
    snapshot_id: str
    timestamp_ms: int
    operation: str  # append | overwrite
    schema_version: int
    spec_id: int
    data_dir: str  # relative to table location
    sequence_number: int = 0  # Iceberg sequence-number: commit order
    # expire_snapshots tombstone: no longer addressable for time travel,
    # but its data dir still composes the state of a LATER retained
    # history snapshot (this format's snapshots are log-structured, so
    # descendants depend on ancestor dirs — Iceberg's manifest lists
    # make each snapshot self-contained; the tombstone is our analog)
    expired: bool = False
    # merge-on-read DELETE (Iceberg v2 delete-file analog, predicate
    # granularity): a snapshot carrying a predicate instead of data —
    # rows from EARLIER snapshots in the segment are filtered at scan
    # time, nothing is rewritten. data_dir is "" for these.
    delete_predicate: str | None = None
    # merge-on-read MERGE (Iceberg v2 EQUALITY-delete-file analog):
    # a snapshot referencing a parquet dir of affected key tuples;
    # rows from EARLIER snapshots whose key appears in the file are
    # masked at scan time via a (broadcast) anti-join. data_dir is ""
    # — the keys dir is metadata-plane, not table data.
    delete_keys_dir: str | None = None
    delete_key_cols: list[str] | None = None
    # merge-on-read POSITION delete (Iceberg v2 position-delete-file
    # analog, the spec's third delete granularity): a parquet dir of
    # (file_path, pos) tuples — file_path RELATIVE to the table
    # location, pos the parquet row ordinal (Spark's
    # _metadata.row_index). Earlier snapshots' rows at those exact
    # positions are masked at scan time via an anti-join on both
    # columns. data_dir is "".
    delete_pos_dir: str | None = None
    # commit-time file manifest (Iceberg's manifest-file analog): one
    # entry per parquet file of this snapshot's payload dir (data_dir,
    # or delete_keys_dir for equality-delete entries) with byte size
    # and footer row count, collected at commit exactly like Iceberg's
    # commit-time stats. THE file list of the entry: files_df, the
    # export, the log stream and scan-time broadcast sizing read it,
    # never a directory listing. Entries loaded from pre-manifest
    # metadata get it once at load (LakeTable.__init__), so it is None
    # only on predicate deletes, which own no directory.
    files: list[dict[str, Any]] | None = None
    # manifest-rewrite marker (Iceberg's ``rewrite_manifests``): a
    # metadata-only 'replace' snapshot whose state is EXACTLY the
    # union of these source snapshots — data files never moved, the
    # manifest above is their union. Scans expand it back into the
    # sources (to_df), CDC treats it as content-preserving (emits
    # nothing), and expiration keeps the sources' dirs alive while
    # this snapshot is retained. data_dir is "" for these.
    source_snapshots: list[str] | None = None

    @property
    def is_row_delete(self) -> bool:
        """Merge-on-read delete entry of any granularity: a scan-time
        predicate, an equality-delete key file, or a position-delete
        file."""
        return (
            self.delete_predicate is not None
            or self.delete_keys_dir is not None
            or self.delete_pos_dir is not None
        )

    @property
    def is_rewrite(self) -> bool:
        """True for snapshots that REPLACE the live state (overwrite /
        compact / copy-on-write DML) and therefore start a fresh
        lineage segment. Predicate/equality deletes are non-append but
        NOT rewrites — they compose within a segment."""
        return self.operation != "append" and not self.is_row_delete

    @property
    def dirs(self) -> list[str]:
        """The table-relative directories this entry owns — its data
        dir, equality-key dir and position-delete dir, whichever are
        non-empty (a predicate delete or a manifest rewrite owns none).
        THE list expiration, rollback and orphan removal delete by."""
        return [
            d
            for d in (self.data_dir, self.delete_keys_dir, self.delete_pos_dir)
            if d
        ]

    def to_json(self) -> dict[str, Any]:
        return self.__dict__.copy()

    @staticmethod
    def from_json(d: dict[str, Any]) -> "Snapshot":
        return Snapshot(**d)


# -- on-disk <-> in-memory metadata translation (module docstring table) ----

# (in-memory key, on-disk key) pairs, in on-disk order: ONE table
# each direction of the translation reads, so no key can be carried one
# way and dropped the other — a dropped manifest key (partition tuple,
# layout, ``sorted_by``) silently changes pruning and bucket adoption
# on every RELOADED handle while same-handle reads stay right.
# Snapshot extension fields are written only when set (absent =
# default keeps documents stable).
_SNAPSHOT_EXT_KEYS = (
    ("expired", "expired"),  # expire_snapshots tombstone
    ("delete_predicate", "delete-predicate"),
    ("delete_keys_dir", "delete-keys-dir"),
    ("delete_key_cols", "delete-key-cols"),
    ("delete_pos_dir", "delete-pos-dir"),
    # rewrite_manifests provenance (spec analog: the manifest-list the
    # rewritten manifests came from)
    ("source_snapshots", "source-snapshots"),
)
# per-file manifest keys (the spec keeps these in Avro manifests; this
# format inlines them in the snapshot entry), written when not None
_MANIFEST_KEYS = (
    ("path", "path"),
    ("size_bytes", "size-bytes"),
    ("record_count", "record-count"),
    ("stats", "stats"),
    ("partition", "partition"),
    ("layout", "layout"),
    ("spark_bucket", "spark-bucket"),
    ("first_row_id", "first-row-id"),  # v3 row lineage (a42)
    ("sorted_by", "sorted-by"),
)


def _snap_to_spec(d: dict[str, Any]) -> dict[str, Any]:
    out = {
        "snapshot-id": d["snapshot_id"],
        "sequence-number": d.get("sequence_number", 0),
        "timestamp-ms": d["timestamp_ms"],
        "summary": {"operation": d["operation"]},
        "schema-id": d["schema_version"],
        "partition-spec-id": d["spec_id"],
        "data-dir": d["data_dir"],
    }
    out.update(
        (disk, d[mem]) for mem, disk in _SNAPSHOT_EXT_KEYS if d.get(mem)
    )
    if d.get("files") is not None:
        out["manifest"] = [
            {
                disk: f[mem]
                for mem, disk in _MANIFEST_KEYS
                if f.get(mem) is not None
            }
            for f in d["files"]
        ]
    return out


def _snap_from_spec(d: dict[str, Any]) -> dict[str, Any]:
    out = {
        "snapshot_id": d["snapshot-id"],
        "sequence_number": d.get("sequence-number", 0),
        "timestamp_ms": d["timestamp-ms"],
        "operation": d["summary"]["operation"],
        "schema_version": d["schema-id"],
        "spec_id": d["partition-spec-id"],
        "data_dir": d["data-dir"],
    }
    out.update(
        (mem, d[disk]) for mem, disk in _SNAPSHOT_EXT_KEYS if d.get(disk)
    )
    if d.get("manifest") is not None:
        out["files"] = [
            {
                mem: f[disk]
                for mem, disk in _MANIFEST_KEYS
                if f.get(disk) is not None
            }
            for f in d["manifest"]
        ]
    return out


def _sort_fields(meta: dict[str, Any]) -> list[dict[str, str]]:
    """The table's declared sort order as normalized field dicts
    ``{"column", "direction", "null-order"}``. Accepts the legacy
    shape (plain column-name strings, written by pre-r10
    ``compact(sort_by=...)`` commits) so old metadata keeps reading."""
    out = []
    for f in meta.get("sort_order") or []:
        if isinstance(f, str):
            f = {"column": f, "direction": "asc", "null-order": "nulls-first"}
        else:
            f = dict(f)
        # pre-r11 metadata wrote identity-only fields without the
        # transform key; normalize so consumers (export, SHOW CREATE
        # round-trip equality) see one shape
        f.setdefault("transform", "identity")
        out.append(f)
    return out


# transform(args) sort-field head: year(ts) / truncate(4, comment) /
# bucket(16, id). parse_sort_order splits on top-level commas first,
# so the two-arg forms keep their internal comma. Field names admit
# dotted struct paths (Iceberg sort fields address nested fields by
# source-id; the dotted path is this format's spelling — r12).
_SORT_COL = r"[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*"
_SORT_TRANSFORM_RE = re.compile(
    rf"^\s*(year|month|day|hour)\s*\(\s*({_SORT_COL})\s*\)"
    rf"|^\s*(truncate|bucket)\s*\(\s*(\d+)\s*,\s*({_SORT_COL})\s*\)",
    re.IGNORECASE,
)


def _schema_leaf_type(
    schema: T.StructType, dotted: str
) -> "T.DataType | None":
    """Resolve a dotted struct path to its leaf type, or None if any
    segment is missing or a non-struct is traversed. Arrays/maps stop
    the walk — an element has no per-row sort value."""
    cur: T.DataType = schema
    for seg in dotted.split("."):
        if not isinstance(cur, T.StructType):
            return None
        try:
            cur = cur[seg].dataType
        except KeyError:
            return None
    return cur

# source types each sort transform accepts (Iceberg spec §Sorting:
# sort transforms are the partition transforms, same typing rules)
_TEMPORAL_SORT_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)
_INTEGRAL_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def _split_top_level(s: str, angles: bool = True) -> list[str]:
    """Split on commas not nested inside (), quotes, or — when
    ``angles`` (the type-DDL context: ``STRUCT<a: INT, b: INT>``) —
    <>. Expression contexts (SET assignments, sort-order
    declarations) pass ``angles=False`` because ``<``/``>`` there are
    comparison operators, and any commas inside a nested type always
    sit inside a CAST(...) paren anyway. THE one paren-aware comma
    splitter (ddl.py imports this; r12 review folded its twin —
    duplicates drift)."""
    open_ch, close_ch = ("(<", ")>") if angles else ("(", ")")
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch in open_ch:
            depth += 1
            buf.append(ch)
        elif ch in close_ch:
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            part = "".join(buf).strip()
            if part:  # same rule as the tail: empty segments drop
                parts.append(part)
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def parse_sort_order(raw: str, schema: T.StructType) -> list[dict[str, str]]:
    """Parse a ``write.sort-order`` declaration — Iceberg sort-order
    semantics: ``"field [ASC|DESC] [NULLS FIRST|NULLS LAST], ..."``
    where ``field`` is a top-level column (identity transform) or a
    transform application from the spec's sort vocabulary —
    ``year(ts)`` / ``month(ts)`` / ``day(ts)`` / ``hour(ts)`` /
    ``truncate(W, col)`` / ``bucket(N, col)`` (Iceberg sort orders
    admit the partition transforms; the kernels are shared with
    partitioning.PartitionField so sort and partition values agree
    bit-for-bit). Defaults mirror both Iceberg's and Spark's: ASC is
    nulls-first, DESC is nulls-last."""
    fields: list[dict[str, str]] = []
    for part in _split_top_level(raw, angles=False):
        transform = "identity"
        tm = _SORT_TRANSFORM_RE.match(part)
        if tm:
            if tm.group(1):  # temporal: year(ts)
                transform, col = tm.group(1).lower(), tm.group(2)
            else:  # parameterized: truncate(4, col) / bucket(16, col)
                transform = f"{tm.group(3).lower()}[{int(tm.group(4))}]"
                col = tm.group(5)
            rest = part[tm.end():]
        else:
            cm = re.match(rf"^\s*({_SORT_COL})", part)
            if not cm:
                raise TableFormatError(
                    f"unparseable write.sort-order field {part!r} "
                    "(expected 'col|transform(col) [ASC|DESC] "
                    "[NULLS FIRST|LAST]')"
                )
            col, rest = cm.group(1), part[cm.end():]
        m = re.match(
            r"^(?:\s+(ASC|DESC))?(?:\s+NULLS\s+(FIRST|LAST))?\s*$",
            rest,
            re.IGNORECASE,
        )
        if not m:
            raise TableFormatError(
                f"unparseable write.sort-order field {part!r} "
                "(expected 'col|transform(col) [ASC|DESC] "
                "[NULLS FIRST|LAST]')"
            )
        direction, nulls = m.group(1), m.group(2)
        dtype = _schema_leaf_type(schema, col)
        if dtype is None:
            raise TableFormatError(
                f"write.sort-order column {col!r} not in schema "
                f"(have {sorted(f.name for f in schema.fields)}; nested "
                "struct paths use dots, arrays/maps are not sortable)"
            )
        base = transform.split("[")[0]
        if base in ("year", "month", "day", "hour") and not isinstance(
            dtype, _TEMPORAL_SORT_TYPES
        ):
            raise TableFormatError(
                f"sort transform {base}({col}) needs a date/timestamp "
                f"source, got {dtype.simpleString()}"
            )
        if base == "truncate" and not isinstance(
            dtype, _INTEGRAL_TYPES + (T.StringType,)
        ):
            raise TableFormatError(
                f"sort transform truncate on {col!r} needs an integral "
                f"or string source, got {dtype.simpleString()}"
            )
        if base == "bucket" and not isinstance(
            dtype,
            _INTEGRAL_TYPES
            + (T.StringType, T.DateType, T.TimestampType, T.TimestampNTZType),
        ):
            raise TableFormatError(
                f"sort transform bucket on {col!r} unsupported for "
                f"source type {dtype.simpleString()}"
            )
        direction = (direction or "asc").lower()
        null_order = (
            f"nulls-{nulls.lower()}"
            if nulls
            else ("nulls-first" if direction == "asc" else "nulls-last")
        )
        fields.append(
            {
                "column": col,
                "transform": transform,
                "direction": direction,
                "null-order": null_order,
            }
        )
    if not fields:
        raise TableFormatError("write.sort-order declares no fields")
    return fields


def _sort_columns(
    fields: list[dict[str, str]], schema: "T.StructType | None" = None
) -> list[Column]:
    """Normalized sort fields -> Spark sort expressions (consumed by
    repartitionByRange / sortWithinPartitions). Transform sort fields
    sort by the TRANSFORM value (Iceberg sort-order semantics) through
    the same kernels the partition spec uses (PartitionField.
    expression), so e.g. ``truncate(4, c)``-sorted files cluster ``c``
    by prefix — monotone transforms keep source-column file bounds
    tight, which is what feeds the a20 manifest-pruning seam."""
    from .partitioning import PartitionField  # noqa: PLC0415

    out = []
    for f in fields:
        tr = f.get("transform", "identity")
        if tr == "identity":
            c = F.col(f["column"])
        else:
            dtype = (
                _schema_leaf_type(schema, f["column"])
                if schema is not None
                else None
            )
            c = PartitionField(
                source_column=f["column"],
                transform=tr,
                name=f["column"],
                spec_field_id=-1,
            ).expression(dtype)
        if f["direction"] == "desc":
            c = (
                c.desc_nulls_first()
                if f["null-order"] == "nulls-first"
                else c.desc_nulls_last()
            )
        else:
            c = (
                c.asc_nulls_last()
                if f["null-order"] == "nulls-last"
                else c.asc_nulls_first()
            )
        out.append(c)
    return out


def _meta_to_spec(meta: dict[str, Any]) -> dict[str, Any]:
    live = meta["snapshots"]
    doc: dict[str, Any] = {
        "format-version": meta["format_version"],
        "table-uuid": meta.get("table_uuid"),
        "identifier": meta["identifier"],
        "location": meta["location"],
        "last-sequence-number": meta.get("last_sequence_number", 0),
        "last-updated-ms": int(time.time() * 1000),
        "current-schema-id": meta["current_schema_version"],
        "schemas": [
            {"schema-id": int(v), "spark-type": s}
            for v, s in sorted(meta["schemas"].items(), key=lambda kv: int(kv[0]))
        ],
        "default-spec-id": meta["current_spec_id"],
        # per-field keys follow the spec where possible: "field-id",
        # "transform", "name"; "source-column" is the *ext* name-based
        # stand-in for the spec's field-id-based "source-id"
        "partition-specs": [
            {
                "spec-id": int(sid),
                "fields": [
                    {
                        "source-column": f["source_column"],
                        "transform": f["transform"],
                        "name": f["name"],
                        "field-id": f["spec_field_id"],
                    }
                    for f in fields
                ],
            }
            for sid, fields in sorted(
                meta["specs"].items(), key=lambda kv: int(kv[0])
            )
        ],
        "properties": meta["properties"],
        "current-snapshot-id": live[-1]["snapshot_id"] if live else None,
        "snapshots": [_snap_to_spec(s) for s in live],
    }
    if meta.get("next_row_id") is not None:
        # v3 row lineage (a42): the next unassigned row id
        doc["next-row-id"] = meta["next_row_id"]
    if meta.get("snapshot_history"):
        doc["snapshot-history"] = [
            _snap_to_spec(s) for s in meta["snapshot_history"]
        ]
    if meta.get("tags"):
        # Iceberg refs (spec v2 "refs" map), tag type only — names
        # pin snapshot ids against expiration and resolve in reads
        doc["refs"] = {
            name: {"snapshot-id": sid, "type": "tag"}
            for name, sid in sorted(meta["tags"].items())
        }
    if meta.get("branches"):
        # ext field: staging branches carry full snapshot entries
        # (this format's live lists are per-ref, unlike spec branch
        # refs which point into one shared snapshot set)
        doc["branches"] = {
            name: {"snapshots": [_snap_to_spec(s) for s in b["snapshots"]]}
            for name, b in sorted(meta["branches"].items())
        }
    if meta.get("renames"):
        # ext field: the identity-preserving rename log. LOSING this on
        # the round-trip silently turned every reloaded handle's
        # pre-rename data into drop+add NULLs — the exact destruction
        # rename_column exists to prevent (found live, r9; regression:
        # tests/test_rename_column.py reload test + the spec round-trip
        # property test).
        doc["column-renames"] = [
            {"schema-id": r["version"], "from": r["from"], "to": r["to"]}
            for r in meta["renames"]
        ]
    if meta.get("sort_order"):
        doc["default-sort-order-id"] = 1
        doc["sort-orders"] = [
            {
                "order-id": 1,
                "fields": [
                    {
                        "transform": f.get("transform", "identity"),
                        "source-column": f["column"],
                        "direction": f["direction"],
                        "null-order": f["null-order"],
                    }
                    for f in _sort_fields(meta)
                ],
            }
        ]
    return doc


def _meta_from_spec(doc: dict[str, Any]) -> dict[str, Any]:
    meta: dict[str, Any] = {
        "format_version": doc["format-version"],
        "table_uuid": doc.get("table-uuid"),
        "identifier": doc["identifier"],
        "location": doc["location"],
        "last_sequence_number": doc.get("last-sequence-number", 0),
        "current_schema_version": doc["current-schema-id"],
        "schemas": {
            str(s["schema-id"]): s["spark-type"] for s in doc["schemas"]
        },
        "current_spec_id": doc["default-spec-id"],
        "specs": {
            str(s["spec-id"]): [
                {
                    "source_column": f["source-column"],
                    "transform": f["transform"],
                    "name": f["name"],
                    "spec_field_id": f["field-id"],
                }
                for f in s["fields"]
            ]
            for s in doc["partition-specs"]
        },
        "properties": doc["properties"],
        "snapshots": [_snap_from_spec(s) for s in doc["snapshots"]],
    }
    if doc.get("next-row-id") is not None:
        meta["next_row_id"] = doc["next-row-id"]
    if doc.get("snapshot-history"):
        meta["snapshot_history"] = [
            _snap_from_spec(s) for s in doc["snapshot-history"]
        ]
    if doc.get("refs"):
        meta["tags"] = {
            name: r["snapshot-id"]
            for name, r in doc["refs"].items()
            if r.get("type") == "tag"
        }
    if doc.get("branches"):
        meta["branches"] = {
            name: {"snapshots": [_snap_from_spec(s) for s in b["snapshots"]]}
            for name, b in doc["branches"].items()
        }
    if doc.get("column-renames"):
        meta["renames"] = [
            {"version": r["schema-id"], "from": r["from"], "to": r["to"]}
            for r in doc["column-renames"]
        ]
    if doc.get("sort-orders"):
        meta["sort_order"] = [
            {
                "column": f["source-column"],
                "transform": f.get("transform", "identity"),
                "direction": f.get("direction", "asc"),
                "null-order": f.get("null-order", "nulls-first"),
            }
            for f in doc["sort-orders"][0]["fields"]
        ]
    return meta


def _hint_to_filename(hint: str) -> str:
    """Resolve a version-hint payload to the metadata filename. Plain
    tables store the bare version number (``"4"`` →
    ``v4.metadata.json``); catalog-of-record tables store the full
    writer-unique filename (``"v4-ab12cd34.metadata.json"``)."""
    return hint if hint.endswith(".metadata.json") else f"v{hint}.metadata.json"


def _hint_to_version(hint: str) -> int:
    """Extract the numeric version from either hint form."""
    m = re.match(r"v?(\d+)", hint)
    if not m:
        raise TableFormatError(f"unparseable version hint {hint!r}")
    return int(m.group(1))


# bound-stats width cap: stats live inline in the metadata JSON, so a
# 1000-column table must not pay 1000 bounds per file — Iceberg's
# write.metadata.metrics config exists for the same reason (its default
# truncates/none's metrics past the first 32 columns). First N
# top-level columns in schema order; pruning on later columns simply
# finds no stats and keeps the file (conservative by design).
_STATS_MAX_COLUMNS = 32


def _estimated_row_width(schema: T.StructType) -> int:
    """Bootstrap bytes-per-row estimate for a table with no committed
    data files yet (write.target-file-size-bytes needs SOME width to
    turn bytes into a row cap before the first manifest exists).
    Deliberately generous per field — parquet encodes most of these
    smaller — because overestimating width only makes first-commit
    files smaller than target; the calibrated manifest width takes
    over from the second commit."""

    def w(dt: T.DataType) -> int:
        if isinstance(dt, (T.LongType, T.DoubleType, T.TimestampType,
                           T.TimestampNTZType, T.DecimalType)):
            return 8
        if isinstance(dt, (T.IntegerType, T.FloatType, T.DateType)):
            return 4
        if isinstance(dt, (T.ShortType, T.ByteType, T.BooleanType)):
            return 2
        if isinstance(dt, T.StringType):
            return 32
        if isinstance(dt, T.BinaryType):
            return 64
        if isinstance(dt, T.StructType):
            return sum(w(f.dataType) for f in dt.fields)
        if isinstance(dt, T.ArrayType):
            return 8 * w(dt.elementType)
        if isinstance(dt, T.MapType):
            return 8 * (w(dt.keyType) + w(dt.valueType))
        return 16
    return max(1, sum(w(f.dataType) for f in schema.fields))


def _footer_column_bounds(
    md, metrics: "tuple[str, dict[str, str]] | None" = None
) -> dict[str, list]:
    """Per-column [min, max] from a parquet footer's row-group
    statistics — the data Iceberg stores as manifest lower/upper
    bounds. Conservative by construction: only TOP-LEVEL columns whose
    every row group carries min/max of a JSON-safe orderable type
    (int/float/str; bool and nested paths excluded) get an entry, so
    a missing entry always means 'cannot prune', never 'no rows'.
    Width-capped to the first ``_STATS_MAX_COLUMNS`` TOP-LEVEL columns
    (nested leaves don't consume cap slots — a leading wide struct must
    not disable stats for the flat columns after it).

    ``metrics`` is the compiled ``write.metadata.metrics`` selection
    (default mode, per-column overrides — Iceberg's metrics config,
    which exists because a 1000-column table must not pay 1000 bounds
    per file): mode 'none' drops a column's bounds, 'full' keeps them;
    per-column entries override the default. Explicit 'full' columns
    are exempt from the width cap (naming a column IS the width
    decision). Dropping bounds only ever disables pruning for that
    column — consumers already treat a missing entry as 'keep'."""
    if md.num_row_groups == 0:
        return {}
    default_mode, per_col = metrics if metrics else ("full", {})
    allowed: list[str] = []
    g0 = md.row_group(0)
    for ci in range(g0.num_columns):
        name = g0.column(ci).path_in_schema
        if "." in name or name in allowed:
            continue
        mode = per_col.get(name, default_mode)
        if mode in ("none", "counts"):
            # counts-mode columns keep their per-file record_count
            # (always recorded) but carry no bounds
            continue
        if name in per_col:
            allowed.append(name)  # named columns bypass the width cap
            continue
        if sum(1 for a in allowed if a not in per_col) >= _STATS_MAX_COLUMNS:
            continue
        allowed.append(name)
    allowed_set = set(allowed)
    agg: dict[str, list] = {}
    dead: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in dead or name not in allowed_set:
                continue
            try:
                st = col.statistics
                if st is None or not st.has_min_max:
                    dead.add(name)
                    continue
                lo, hi = st.min, st.max
            except Exception:  # noqa: BLE001 — pyarrow raises
                # ArrowNotImplementedError ("Cannot extract statistics
                # for type") on e.g. INT96/nested physical types; any
                # unreadable statistic means this column cannot prune
                dead.add(name)
                continue
            ok = (
                type(lo) in (int, float, str)
                and type(hi) in (int, float, str)
            )
            if not ok:
                dead.add(name)
                continue
            cur = agg.get(name)
            if cur is None:
                agg[name] = [lo, hi]
            else:
                cur[0] = min(cur[0], lo)
                cur[1] = max(cur[1], hi)
    for name in dead:
        agg.pop(name, None)
    # truncate(N) bounds: applied once over the file-level aggregate
    # (equivalent to truncating per row group, and cheaper). Lower
    # truncates down; upper rounds UP via last-char increment so the
    # pair remains a sound enclosure of every value in the file.
    for name, bounds in agg.items():
        mode = per_col.get(name, default_mode)
        m = re.fullmatch(r"truncate\((\d+)\)", mode)
        if not m:
            continue
        n = int(m.group(1))
        lo, hi = bounds
        if isinstance(lo, str) and len(lo) > n:
            bounds[0] = lo[:n]
        if isinstance(hi, str) and len(hi) > n:
            up = _truncate_upper(hi, n)
            if up is not None:
                bounds[1] = up
            # else: no valid truncated upper exists (all chars at the
            # max code point) — keep the full value, still sound
    return agg


def _truncate_upper(value: str, n: int) -> "str | None":
    """Iceberg's UnicodeUtil.truncateStringMax rule: the shortest
    string of length <= n that is >= every string with this prefix —
    take the n-char prefix and increment its last incrementable code
    point, dropping everything after it. None when no such string
    exists (every prefix char is U+10FFFF)."""
    prefix = value[:n]
    chars = list(prefix)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000  # skip the surrogate block (not scalar values)
            chars[i] = chr(nxt)
            return "".join(chars[: i + 1])
    return None


def _file_may_match(
    stats: dict[str, list], col: str, op: str, lit: Any
) -> bool:
    """Manifest-level file skip test: False ONLY when the file's
    [min, max] bounds PROVE no row can satisfy ``col op lit``. Missing
    stats, unknown operators, and type mismatches all answer True
    (keep the file) — pruning is an optimization, never a filter. NULL
    rows satisfy no comparison predicate, so bounds over the non-null
    values alone are sufficient evidence to skip."""
    bounds = stats.get(col)
    if bounds is None:
        return True
    lo, hi = bounds

    # NaN soundness. Parquet footer min/max EXCLUDE NaN (a file holding
    # [1.0, NaN, 2.0] records bounds [1.0, 2.0]) while Spark SQL orders
    # NaN GREATER than every other value. Two consequences:
    #   * a NaN LITERAL makes every Python bound comparison False, which
    #     would read as "prune" — but e.g. `col < NaN` is TRUE for every
    #     non-NaN row in Spark. Any NaN literal → keep the file.
    #   * float/double COLUMN bounds are evidence about the non-NaN rows
    #     only, so an upper-bound refutation of >/>= is unsound (an
    #     uncovered NaN row would satisfy the predicate). Lower-bound
    #     refutations (</<=) stay sound — NaN satisfies neither — and
    #     =/IN stay sound for non-NaN literals (NaN equals only NaN).
    def _is_nan(v: Any) -> bool:
        return isinstance(v, float) and v != v

    if op == "in":
        if any(_is_nan(v) for v in lit):
            return True
    elif _is_nan(lit):
        return True
    # bounds typed float <=> source column is float/double (int and str
    # columns never record float bounds; JSON round-trips preserve this)
    nan_possible = isinstance(lo, float) or isinstance(hi, float)
    try:
        if op == "in":
            # IN-list: the file may match if ANY literal is in bounds
            return any(lo <= v <= hi for v in lit)
        if op in ("=", "=="):
            return lo <= lit <= hi
        if op == ">":
            return True if nan_possible else hi > lit
        if op == ">=":
            return True if nan_possible else hi >= lit
        if op == "<":
            return lo < lit
        if op == "<=":
            return lo <= lit
    except TypeError:
        return True  # incomparable literal type: cannot prune
    return True  # unknown operator: cannot prune


def _partition_values_from_path(rel_in_snap: str) -> dict[str, Any]:
    """Hive partition dirs of a data file's path inside its snapshot
    dir -> {spec field name: value string} (the manifest's partition
    tuple). Values are hive-unescaped; the null-sentinel dir maps to
    None (Iceberg manifests store null partition values as null)."""
    from urllib.parse import unquote  # noqa: PLC0415

    out: dict[str, Any] = {}
    for comp in rel_in_snap.split("/")[:-1]:
        if "=" not in comp or not comp.startswith(PARTITION_COL_PREFIX):
            continue
        key, raw = comp.split("=", 1)
        val = unquote(raw)
        out[key[len(PARTITION_COL_PREFIX):]] = (
            None if val == "__HIVE_DEFAULT_PARTITION__" else val
        )
    return out


def _partition_value_may_match(
    field: PartitionField,
    pval: Any,
    op: str,
    lit: Any,
    spark_layout_field: "PartitionField | None" = None,
) -> bool:
    """Manifest-level partition-tuple file skip: False ONLY when the
    file's recorded partition value PROVES no row satisfies
    ``source op lit``. Conservative on any doubt. ``pval`` is the
    manifest-recorded value (string from hive dirs, int for Spark
    bucket ids); None means the file holds only NULL source values,
    which satisfy no comparison predicate — skippable."""
    if pval is None:
        return False  # whole file is NULL-valued for this source: no match
    def _is_int(v: Any) -> bool:
        return isinstance(v, int) and not isinstance(v, bool)

    if field is spark_layout_field:
        # Spark-native bucket layout: membership via SPARK's hash
        if op in ("=", "=="):
            if not _is_int(lit):
                return True
            return spark_bucket_of(lit, field.param) == int(pval)
        if op == "in":
            vals = list(lit)
            if not all(_is_int(v) for v in vals):
                return True
            return any(
                spark_bucket_of(v, field.param) == int(pval) for v in vals
            )
        return True  # hash destroys order
    if op == "in":
        vals = [field.truncate_literal(v) for v in lit]
        if any(v is None for v in vals):
            return True
        return any(_pv_cmp(pval, "=", v) for v in vals)
    mapped = field.truncate_literal(lit)
    if mapped is None:
        return True
    if field.base_transform == "bucket":
        if op in ("=", "=="):
            return _pv_cmp(pval, "=", mapped)
        return True
    # order-preserving transforms: x > v  =>  t >= trunc(v) etc.
    if op in ("=", "=="):
        return _pv_cmp(pval, "=", mapped)
    if op in (">", ">="):
        return _pv_cmp(pval, ">=", mapped)
    if op in ("<", "<="):
        return _pv_cmp(pval, "<=", mapped)
    return True


def _pv_cmp(pval: Any, op: str, mapped: Any) -> bool:
    """Compare a manifest partition value (usually a dir STRING)
    against a mapped literal, coercing to the literal's type; any
    coercion failure answers True (cannot prune)."""
    try:
        if isinstance(mapped, bool):
            return True
        if isinstance(mapped, int):
            p: Any = int(pval)
        elif isinstance(mapped, float):
            p = float(pval)
        else:
            p, mapped = str(pval), str(mapped)
        if op == "=":
            return p == mapped
        if op == ">=":
            return p >= mapped
        if op == "<=":
            return p <= mapped
    except (TypeError, ValueError):
        return True
    return True


class LakeCatalog:
    """Catalog over a warehouse namespace: ``{warehouse}/{db}/{table}``
    (the reference derives ``s3://{bucket}/{database}/{table}``,
    iceberg_helper.py:81-95). All metadata IO goes through ``io``
    (fileio.FileIO) — the Glue/S3 posture's seam: an object-store
    metadata backend is a different ``io`` plus a location scheme,
    while data files stay on Spark's own (already pluggable) Hadoop
    FileSystem layer."""

    def __init__(self, warehouse: str | Path, io: FileIO | None = None):
        self.io = io or LocalFileIO()
        warehouse = Path(warehouse)
        if isinstance(self.io, LocalFileIO) and not warehouse.is_absolute():
            # Spark resolves relative paths inconsistently across its
            # IO surfaces: read.parquet resolves against the app cwd,
            # but a relative saveAsTable `path` option lands under
            # spark.sql.warehouse.dir — so a relative LOCAL warehouse
            # could commit a bucket-layout snapshot whose manifest
            # points at a data dir Spark wrote somewhere else entirely
            # (found live: the dir vanished with the throwaway catalog
            # entry). Custom FileIO backends keep their own keyspace
            # untouched.
            warehouse = warehouse.resolve()
        self.warehouse = warehouse
        self.io.mkdirs(str(self.warehouse))

    def _table_dir(self, database: str, table: str) -> Path:
        return self.warehouse / database / table

    def create_namespace_if_not_exists(self, database: str) -> None:
        self.io.mkdirs(str(self.warehouse / database))

    def table_exists(self, database: str, table: str) -> bool:
        return self.io.exists(
            str(self._table_dir(database, table) / "_meta" / "version-hint.text")
        )

    def create_table(
        self,
        database: str,
        table: str,
        schema: T.StructType,
        partition_spec: PartitionSpec | None = None,
        properties: dict[str, str] | None = None,
        location: "str | Path | None" = None,
    ) -> "LakeTable":
        """``location`` overrides the name-derived directory — the
        catalog-of-record seam: after a Glue rename the OLD name's
        dir is still occupied by the renamed table (its location is
        fixed), so a re-CREATE of that name needs a fresh dir."""
        if location is None:
            if self.table_exists(database, table):
                raise TableFormatError(
                    f"table {database}.{table} already exists"
                )
            loc = self._table_dir(database, table)
        else:
            loc = Path(location)
            if self.io.exists(str(loc / "_meta" / "version-hint.text")):
                raise TableFormatError(
                    f"location {loc} already holds a table"
                )
        self.create_namespace_if_not_exists(database)
        spec = partition_spec or PartitionSpec()
        meta = {
            "format_version": FORMAT_VERSION,
            "table_uuid": str(uuid.uuid4()),
            "identifier": f"{database}.{table}",
            "location": str(loc),
            "current_schema_version": 1,
            "schemas": {"1": json.loads(schema.json())},
            "current_spec_id": 0,
            "specs": {"0": spec.to_json()},
            "properties": dict(properties or {}),
            "snapshots": [],
        }
        t = LakeTable(loc, meta, io=self.io)
        # the v1 object is written BEFORE the catalog registration that
        # will point at it — no pointer exists to diverge from yet, so
        # the catalog-of-record commit guard does not apply to CREATE
        t.allow_uncataloged_commit = True
        with t._transaction():
            # CREATE-time sort-order declaration (write.sort-order):
            # parse and validate against the schema before the v1
            # commit so a bad declaration fails the CREATE, not the
            # first append
            t.refresh_declared_sort_order()
        t.allow_uncataloged_commit = False
        return t

    def load_table(self, database: str, table: str) -> "LakeTable | None":
        """None on missing — the reference's contract
        (iceberg_helper.py:180-185)."""
        if not self.table_exists(database, table):
            return None
        return LakeTable.load(self._table_dir(database, table), io=self.io)

    def drop_table(self, database: str, table: str) -> None:
        self.io.delete_recursive(str(self._table_dir(database, table)))

    def rename_table(
        self,
        database: str,
        table: str,
        new_database: str,
        new_table: str,
    ) -> "LakeTable":
        """``ALTER TABLE db.t RENAME TO db2.t2`` (VERDICT r12 item 3).
        This catalog is PATH-addressed ({warehouse}/{db}/{table} IS
        the identifier, like Iceberg's HadoopCatalog — which refuses
        rename outright), so a rename here moves the table directory:
        atomic os.rename on a filesystem backend, per-object copy on
        object stores (LOUD cost — catalog-of-record deployments use
        GlueLakeCatalog.rename_table, which re-points the catalog and
        keeps the location fixed, Iceberg's own Glue semantics).
        Snapshots, history, branches, and tags move wholesale: every
        manifest and delete-file path is TABLE-RELATIVE by design.
        The refreshed identifier/location commit under the new name
        before the handle is returned."""
        if not self.table_exists(database, table):
            raise TableFormatError(
                f"table {database}.{table} does not exist"
            )
        if self.table_exists(new_database, new_table):
            raise TableFormatError(
                f"table {new_database}.{new_table} already exists"
            )
        probe = self.load_table(database, table)
        if (probe.properties or {}).get("catalog-of-record"):
            # moving the dir under a catalog-of-record table would
            # orphan the catalog's metadata pointer mid-flight — the
            # owning catalog renames by re-pointing instead
            raise TableFormatError(
                f"{database}.{table} is catalog-of-record governed — "
                "rename through its catalog "
                "(GlueLakeCatalog.rename_table re-points the entry "
                "and keeps the location fixed)"
            )
        self.create_namespace_if_not_exists(new_database)
        src = self._table_dir(database, table)
        dst = self._table_dir(new_database, new_table)
        self.io.rename_dir(str(src), str(dst))
        t = LakeTable.load(dst, io=self.io)
        with t._transaction():
            t.meta["identifier"] = f"{new_database}.{new_table}"
            t.meta["location"] = str(dst)
        return t

    def list_tables(self) -> list[tuple[str, str]]:
        """All (database, table) identifiers in the warehouse —
        O(#tables) existence probes, a metadata-plane walk."""
        out = []
        for db in self.io.list_subdirs(str(self.warehouse)):
            for tb in self.io.list_subdirs(str(self.warehouse / db)):
                if self.table_exists(db, tb):
                    out.append((db, tb))
        return out


_ZORDER_BITS = 6  # 64 equi-depth bins per clustered column


def _zorder_column(df: DataFrame, cols: list[str]) -> Column:
    """Interleaved-bit z-value over ``cols`` (Delta OPTIMIZE ZORDER /
    Iceberg z-order rewrite strategy), built 100 TB-safe:

    - **Bin boundaries** come from ONE distributed ``approxQuantile``
      pass over all clustered columns (sampling-based GK sketch; the
      driver receives only 63 cut points per column — the same
      range-id-by-sampling approach Delta's z-order uses). Equi-depth
      bins keep the interleave balanced under skew, where
      min/max-scaled bit slicing would collapse.
    - **Bin assignment** is a codegen ``filter`` HOF over the literal
      boundary array (count of boundaries <= value) — no UDF.
    - **Interleave** is shiftleft/bitwiseAND codegen arithmetic:
      bit b of column i lands at position b*k + i, so all k columns
      contribute equally to every z-value prefix.

    Column typing: numerics (incl. decimal) bin by value; date /
    timestamp bin by epoch position; string / binary / boolean bin by
    ``xxhash64`` (equal values cluster together; range semantics do
    not apply to them anyway — documented hash-order clustering).
    """
    if not 1 <= len(cols) <= 8:
        raise TableFormatError("cluster_by takes 1..8 columns")
    dtypes = dict(df.dtypes)
    keyed = []
    for c in cols:
        if c not in dtypes:
            raise TableFormatError(f"unknown cluster_by column {c!r}")
        dt = dtypes[c]
        if dt == "date":
            keyed.append(F.datediff(F.col(c), F.lit("1970-01-01")))
        elif dt.startswith("timestamp"):
            keyed.append(F.col(c).cast("double"))
        elif dt in ("string", "binary", "boolean"):
            keyed.append(F.xxhash64(F.col(c)).cast("double"))
        else:
            keyed.append(F.col(c).cast("double"))
    tmp = [f"__zk{i}" for i in range(len(cols))]
    prepared = df.select(*[k.alias(n) for k, n in zip(keyed, tmp)])
    nbins = 1 << _ZORDER_BITS
    probs = [i / nbins for i in range(1, nbins)]
    # one distributed pass for every column's boundaries
    bounds = prepared.stat.approxQuantile(tmp, probs, 0.01)
    z = F.lit(0).cast("long")
    k = len(cols)
    for i, (key, bnds) in enumerate(zip(keyed, bounds)):
        # NULL and NaN order first (bin 0) to match Spark's sort order
        arr = F.array(*[F.lit(float(b)) for b in bnds])
        bin_col = F.when(
            key.isNull() | F.isnan(key), F.lit(0)
        ).otherwise(F.size(F.filter(arr, lambda x: x <= key)))
        for b in range(_ZORDER_BITS):
            z = z + F.shiftleft(
                F.shiftright(bin_col, b).bitwiseAND(F.lit(1)).cast("long"),
                b * k + i,
            )
    return z


class LakeTable:
    def __init__(
        self,
        location: Path,
        meta: dict[str, Any],
        io: FileIO | None = None,
        data_io: FileIO | None = None,
    ):
        self.location = Path(location)
        self.meta = meta
        self.io = io or LocalFileIO()
        # post-commit hook: callable(version, metadata_path) set by a
        # catalog-of-record layer (glue_catalog.GlueLakeCatalog) to
        # publish/CAS the new metadata pointer after each commit. None
        # for plain hint-file tables.
        self.on_commit = None
        # True inside the outermost _transaction block
        self._txn_open = False
        # explicit opt-out of the catalog-of-record commit guard: a
        # caller who sets this True on a catalog-managed table commits
        # to the store lineage KNOWING the catalog pointer will not
        # follow (recovery/debug escape hatch; see _commit)
        self.allow_uncataloged_commit = False
        # the metadata file this handle's state was loaded from — the
        # base a CAS publish compares the catalog pointer against
        self.loaded_from: str | None = None
        # DATA-plane namespace ops (maintenance deletes/listings,
        # stream source dir). Data files are written by Spark's Hadoop
        # FS layer — local in this container — so this defaults to
        # LocalFileIO even when table METADATA lives behind an
        # object-store backend; a cloud deployment passes the FileIO
        # that fronts the same store Spark writes to.
        self.data_io = data_io or LocalFileIO()
        # pre-manifest metadata: collect the commit-time file list the
        # original commits predate, once (footer-priced); the next
        # commit persists it. A current document costs a key test per
        # entry and no IO.
        for s in [
            *meta["snapshots"],
            *meta.get("snapshot_history", []),
            *(
                e
                for b in (meta.get("branches") or {}).values()
                for e in b["snapshots"]
            ),
        ]:
            dirs = Snapshot.from_json(s).dirs if s.get("files") is None else []
            if dirs:
                s["files"] = [
                    f for d in dirs for f in self._collect_manifest(d)
                ]

    # -- metadata ----------------------------------------------------------

    @classmethod
    def from_metadata(
        cls, location: str | Path, metadata_path: str, io: FileIO
    ) -> "LakeTable":
        """Open the table from one metadata document (any JSON layout)."""
        doc = json.loads(io.read_text(metadata_path))
        t = cls(location, _meta_from_spec(doc), io=io)
        t.loaded_from = metadata_path
        return t

    @staticmethod
    def load(location: str | Path, io: FileIO | None = None) -> "LakeTable":
        io = io or LocalFileIO()
        location = Path(location)
        if isinstance(io, LocalFileIO) and not location.is_absolute():
            location = location.resolve()  # same rule as LakeCatalog
        meta = location / "_meta"
        hint = io.read_text(str(meta / "version-hint.text")).strip()
        return LakeTable.from_metadata(
            location, str(meta / _hint_to_filename(hint)), io
        )

    def refresh(self) -> "LakeTable":
        """Re-read committed metadata (reference: table.refresh(),
        iceberg_helper.py:365,384). Also resyncs ``loaded_from``, the
        base pointer a catalog-of-record publish compares against — so
        a refreshed handle can commit again after losing a CAS race."""
        fresh = LakeTable.load(self.location, io=self.io)
        self.meta, self.loaded_from = fresh.meta, fresh.loaded_from
        return self

    @property
    def unique_metadata_names(self) -> bool:
        """Catalog-of-record mode: every metadata file gets a
        writer-unique name so racing commits can never overwrite each
        other's objects (see _commit). On for a handle with a publish
        hook, and for any table carrying the ``catalog-of-record``
        marker, so a handle opened through the plain store path never
        reuses a deterministic v{N} name either."""
        return self.on_commit is not None or bool(
            self.properties.get("catalog-of-record")
        )

    @contextlib.contextmanager
    def _transaction(self) -> Iterator[None]:
        """THE way package code changes and publishes this handle's
        metadata: the block mutates ``self.meta``, the exit commits it
        once. On any failure, in the block or in the commit, the
        document is put back exactly (keys the block added go too)
        before the error propagates, so a retry or the next unrelated
        commit cannot publish the failed attempt's state. A nested
        block joins the outer one: only the outermost commits.

        Saves a shallow copy of each top-level value, never the whole
        document: a block must replace values two levels down (a
        snapshot entry, a branch record), not mutate them in place."""
        if self._txn_open:
            yield
            return
        saved = {k: copy.copy(v) for k, v in self.meta.items()}
        self._txn_open = True
        try:
            yield
            self._commit()
        except BaseException:
            self.meta.clear()
            self.meta.update(saved)
            raise
        finally:
            self._txn_open = False

    def _commit(self) -> None:
        if (
            self.on_commit is None
            and not self.allow_uncataloged_commit
            and self.properties.get("catalog-of-record")
        ):
            # Split-brain guard (ADVICE r7): this table's commits are
            # published through a catalog-of-record pointer CAS. A
            # commit through a plain store handle would advance the
            # version hint while the catalog pointer stays stale —
            # hint readers and catalog readers silently diverge. Load
            # through the owning catalog (e.g.
            # GlueLakeCatalog.load_table) so the publish hook is
            # installed, or set ``allow_uncataloged_commit=True`` to
            # knowingly fork the store lineage away from the catalog.
            raise TableFormatError(
                f"table {self.identifier} is managed by catalog-of-record "
                f"{self.properties['catalog-of-record']!r}; refusing to "
                "commit without a catalog publish hook (load it via the "
                "catalog, or set allow_uncataloged_commit=True)"
            )
        meta_dir = self.location / "_meta"
        hint_file = str(meta_dir / "version-hint.text")
        # past both the hint and the loaded document: after a published
        # commit whose hint write failed, the hint lags the catalog
        version = 1 + max(
            _hint_to_version(self.io.read_text(hint_file).strip())
            if self.io.exists(hint_file)
            else 0,
            _hint_to_version(self.loaded_from.rsplit("/", 1)[-1])
            if self.loaded_from
            else 0,
        )
        if self.unique_metadata_names:
            # catalog-of-record mode: the metadata OBJECT key must be
            # unique per writer (Iceberg's uuid'd metadata file names).
            # With the deterministic v{N} key, two writers racing from
            # the same base both compute N and the loser's PUT lands on
            # the winner's committed object BEFORE the CAS can reject
            # it — last-writer-wins corruption the pointer never sees.
            fname = f"v{version}-{uuid.uuid4().hex[:8]}.metadata.json"
        else:
            fname = f"v{version}.metadata.json"
        meta_path = str(meta_dir / fname)
        # compact separators keep CPython on its C encoder (any
        # ``indent`` falls back to the pure-Python one); readers parse
        # either form, so older indented documents still load
        self.io.write_text(
            meta_path,
            json.dumps(_meta_to_spec(self.meta), separators=(",", ":")),
        )
        if self.on_commit is not None:
            # catalog-of-record publish (e.g. Glue pointer CAS) — the
            # CAS *is* the commit: it runs after the immutable metadata
            # object is written (a failed publish strands only an
            # unreferenced file, Iceberg's orphan-on-abort) and BEFORE
            # the store-level hint, so hint-based readers (streaming
            # source) never see a version the catalog rejected
            self.on_commit(version, meta_path)
        # hint carries the filename in unique mode (readers resolve it
        # via _hint_to_filename); the bare number otherwise (stable
        # format for plain tables)
        hint = fname if self.unique_metadata_names else str(version)
        try:
            self.io.write_text(hint_file, hint)
        except Exception as e:  # noqa: BLE001
            if self.on_commit is None:
                raise  # no catalog of record: the hint is the commit point
            # the publish above landed the commit: the hint is only a
            # cache for hint readers, so a failed write leaves it stale
            # and neither raises nor reverts (Iceberg's
            # HadoopTableOperations does the same); the next commit
            # numbers past ``loaded_from``
            import warnings  # noqa: PLC0415

            warnings.warn(
                f"{self.identifier}: committed {fname} but the "
                f"version-hint write failed ({e!r}); the hint is stale",
                RuntimeWarning,
                stacklevel=2,
            )
        self.loaded_from = meta_path

    @property
    def identifier(self) -> str:
        return self.meta["identifier"]

    @property
    def schema(self) -> T.StructType:
        v = str(self.meta["current_schema_version"])
        return T.StructType.fromJson(self.meta["schemas"][v])

    def schema_at(self, version: int) -> T.StructType:
        return T.StructType.fromJson(self.meta["schemas"][str(version)])

    @property
    def properties(self) -> dict[str, str]:
        return self.meta["properties"]

    @property
    def sort_order_fields(self) -> list[dict[str, str]]:
        """Declared table sort order (normalized field dicts), or []."""
        return _sort_fields(self.meta)

    def refresh_declared_sort_order(self) -> None:
        """Re-derive ``meta['sort_order']`` from the
        ``write.sort-order`` table property — the declaration surface
        (Iceberg: ``ALTER TABLE ... WRITE ORDERED BY``, carried as
        ``sort-orders`` + ``default-sort-order-id`` metadata). Called
        at CREATE and after SET/UNSET TBLPROPERTIES, so the property
        document and the metadata sort order are one document
        (``compact(sort_by=...)`` mirrors into the property for the
        same reason, keeping the property the single source of
        truth). Does NOT commit — the caller owns the commit
        boundary."""
        # validate the layout VALUE unconditionally (raises on unknown
        # modes): a typo'd write.bucket-layout on a table with no sort
        # order must fail the declaring commit, not poison every later
        # read/write until someone UNSETs the key (r12 review finding)
        self._bucket_layout_mode()
        raw = (self.properties or {}).get("write.sort-order")
        if raw is not None:
            fields = parse_sort_order(raw, self.schema)
            # Iceberg's standard fact-table layout: bucket partition +
            # table sort order — the FULL sort vocabulary composes
            # (r13, VERDICT r12 item 2; was asc-identity-only). The
            # writer splits the declaration into a physical order
            # (bucket key first, then every declared field with its
            # direction/null-order/transform — _bucket_sort_exprs,
            # applied as a pre-sort the write preserves) and a CLAIM
            # (the longest prefix Spark's asc-only bucketed SORTED BY
            # can truthfully express — _bucket_sort_cols, fed to
            # sortBy + the manifest's sorted_by + catalog adoption).
            # Files are sorted by (key, *declared order) verbatim; the
            # claim never over-states, so the exchange-free join
            # contract and adoption stay sound.
            self.meta["sort_order"] = fields
            self.meta.pop("clustering", None)
            sbf = self._spark_bucket_field()
            if sbf is not None:
                # declaration-time check of the one REAL conflict: a
                # DESC/nulls-last identity declaration on the bucket
                # key itself (raises; see _bucket_secondary_fields) —
                # callers' transactions (CREATE, SET/UNSET) revert it
                self._bucket_secondary_fields(sbf)
        else:
            self.meta.pop("sort_order", None)

    def update_properties_validated(
        self,
        updates: "dict[str, str] | None" = None,
        removes: "tuple[str, ...] | list[str]" = (),
    ) -> None:
        """Apply a property mutation and re-validate the declared sort
        order when a declaration-relevant key changed, as one commit:
        on validation failure both the properties dict and the derived
        metadata revert, so nothing changes unless the whole change is
        valid. Inside a caller's ``_transaction`` it joins that
        commit."""
        with self._transaction():
            self.meta["properties"].update(updates or {})
            for k in removes:
                self.meta["properties"].pop(k, None)
            touched = set(updates or {}) | set(removes)
            if {"write.sort-order", "write.bucket-layout"} & touched:
                self.refresh_declared_sort_order()

    @property
    def partition_spec(self) -> PartitionSpec:
        sid = str(self.meta["current_spec_id"])
        return PartitionSpec.from_json(self.meta["specs"][sid])

    def spec_at(self, spec_id: int) -> PartitionSpec:
        return PartitionSpec.from_json(self.meta["specs"][str(spec_id)])

    @property
    def snapshots(self) -> list[Snapshot]:
        return [Snapshot.from_json(s) for s in self.meta["snapshots"]]

    def _segments(self) -> "Iterator[tuple[Snapshot, list[Snapshot]]]":
        """Each snapshot of ``all_snapshots()`` with its lineage
        segment (the snapshot is the segment's last element) — rewrites
        reset the fold, predicate deletes compose inside it. THE
        state-reconstruction walk time travel, rollback and
        expire_snapshots share."""
        seg: list[Snapshot] = []
        for s in self.all_snapshots():
            seg = [s] if s.is_rewrite else seg + [s]
            yield s, seg

    def _segment_ending_at(self, snapshot_id: str) -> list[Snapshot]:
        """The lineage segment whose last element is the target. Raises
        on unknown ids; expired-target policy is the caller's."""
        for s, seg in self._segments():
            if s.snapshot_id == snapshot_id:
                return seg
        raise TableFormatError(
            f"unknown snapshot {snapshot_id!r} for {self.identifier}"
        )

    def _live_state(
        self, snaps: "list[Snapshot]"
    ) -> "tuple[list[Snapshot], list[Snapshot]]":
        """Split a live list (or a lineage segment) into ``(datas,
        deletes)``: the data entries a scan maps over, in order, with
        manifest-rewrite folds expanded to their SOURCE snapshots, and
        the merge-on-read delete entries whose masks apply to them.
        The sources keep their ORIGINAL (smaller) sequence numbers, so
        a mask committed after the fold still applies to them and row
        lineage resolves to them; per-version schema alignment, spec
        pruning and bucket adoption keep their per-source behavior. ONE
        walk for the scan, the lineage read, the lineage carry decision
        and the export, so none of them can diverge."""
        deletes = [s for s in snaps if s.is_row_delete]
        datas = [s for s in snaps if not s.is_row_delete]
        if any(s.source_snapshots for s in datas):
            by_id = {x.snapshot_id: x for x in self.all_snapshots()}
            datas = [
                x
                for s in datas
                for x in self._expand_manifest_sources(s, by_id)
                if not x.source_snapshots
            ]
        return datas, deletes

    def _expand_manifest_sources(
        self, s: Snapshot, by_id: "dict[str, Snapshot]"
    ) -> "Iterator[Snapshot]":
        """``s`` and, for a manifest-rewrite snapshot
        (``rewrite_manifests``), every snapshot it folds, depth first
        in source order. Recursive: a source may itself be an earlier
        manifest rewrite. The leaves are the entries a scan maps over;
        expiration keeps the whole closure."""
        yield s
        for sid in s.source_snapshots or []:
            src = by_id.get(sid)
            if src is None:
                raise TableFormatError(
                    f"manifest-rewrite snapshot {s.snapshot_id} "
                    f"references missing source snapshot {sid!r} — "
                    "metadata corrupted (sources must outlive the "
                    "rewrite; expire_snapshots keeps them)"
                )
            yield from self._expand_manifest_sources(src, by_id)

    def all_snapshots(self) -> list[Snapshot]:
        """History + live snapshots in canonical commit order —
        (sequence_number, timestamp_ms); seq is the real commit order,
        the timestamp tiebreak covers pre-sequence-number metadata
        where every seq is 0. THE one merge every consumer of the full
        log uses (time travel, CDC range resolution, expiration,
        metadata tables, the streaming source)."""
        snaps = [
            Snapshot.from_json(s)
            for s in self.meta.get("snapshot_history", [])
        ] + self.snapshots
        snaps.sort(key=lambda s: (s.sequence_number, s.timestamp_ms))
        return snaps

    # -- evolution (metadata-only commits) ---------------------------------

    def commit_schema(self, new_schema: T.StructType) -> int:
        """Install a new schema version; data files are untouched
        (Iceberg's metadata-only evolution contract)."""
        if any(s.is_row_delete for s in self.snapshots):
            removed = {f.name for f in self.schema.fields} - {
                f.name for f in new_schema.fields
            }
            if removed:
                # a live merge-on-read predicate (or equality-delete
                # key set) referencing a dropped column would make
                # EVERY scan (including the compact() recovery path)
                # unresolvable — refuse while deletes are live;
                # conservatively blocks any top-level drop
                raise TableFormatError(
                    f"cannot drop column(s) {sorted(removed)} while "
                    "merge-on-read delete entries are live — run "
                    "compact() first to fold them into data"
                )
        v = int(self.meta["current_schema_version"]) + 1
        with self._transaction():
            self.meta["schemas"][str(v)] = json.loads(new_schema.json())
            self.meta["current_schema_version"] = v
        return v

    def rename_column(self, old: str, new: str) -> int:
        """Iceberg's renameColumn, metadata-only: the column keeps its
        identity, data files are untouched, and every snapshot —
        including pre-rename ones — reads back under the NEW name.

        The mapping is carried by an explicit rename log in the table
        metadata ({version, from, to}, composed at scan time), not by
        field ids: tables created from raw Spark schemas carry no
        field-id metadata, and the log works for both. Root-level
        columns only (nested renames are a documented gap). Divergence
        from the reference (iceberg_helper.py:254-295): the reference's
        config diff has no rename vocabulary, so a renamed column reads
        as drop+add and loses history; here an explicit rename
        directive preserves it.

        Refused while the column anchors a partition spec field (the
        spec references source columns by NAME here — evolve the spec
        away from the column first) or while merge-on-read delete
        entries are live (their predicates/key files name columns in
        the schema they were written against)."""
        schema = self.schema
        names = set(schema.fieldNames())
        if old not in names:
            raise TableFormatError(f"no column {old!r} to rename")
        if new in names:
            raise TableFormatError(
                f"cannot rename {old!r} to {new!r}: name already in use"
            )
        if any(
            f.source_column == old for f in self.partition_spec.fields
        ):
            raise TableFormatError(
                f"cannot rename {old!r}: it anchors a partition field — "
                "evolve the partition spec first"
            )
        if any(s.is_row_delete for s in self.snapshots):
            raise TableFormatError(
                f"cannot rename {old!r} while merge-on-read delete "
                "entries are live — run compact() first"
            )
        new_schema = T.StructType(
            [
                T.StructField(
                    new if f.name == old else f.name,
                    f.dataType,
                    f.nullable,
                    dict(f.metadata),
                )
                for f in schema.fields
            ]
        )
        # the log entry and the schema land in ONE commit:
        # commit_schema's transaction joins this one
        with self._transaction():
            self.meta.setdefault("renames", []).append(
                {
                    "version": int(self.meta["current_schema_version"]) + 1,
                    "from": old,
                    "to": new,
                }
            )
            return self.commit_schema(new_schema)

    def _renames_since(self, schema_version: int) -> dict[str, str]:
        """Composed {name-as-written -> current name} for data files
        written under ``schema_version``: every rename committed AFTER
        that version applies, chained (a->b then b->c maps a->c)."""
        mapping: dict[str, str] = {}
        for r in self.meta.get("renames", []) or []:
            if int(r["version"]) <= schema_version:
                continue
            frm, to = r["from"], r["to"]
            src = next(
                (k for k, v in mapping.items() if v == frm), None
            )
            if src is not None:
                mapping[src] = to
            else:
                mapping[frm] = to
        return {k: v for k, v in mapping.items() if k != v}

    def _map_renames(self, df: DataFrame, schema_version: int) -> DataFrame:
        """Project a raw file scan's columns forward through the rename
        log (no-op without renames)."""
        ren = self._renames_since(schema_version)
        if not ren:
            return df
        return df.select(
            *[F.col(c).alias(ren.get(c, c)) for c in df.columns]
        )

    def _as_current(
        self, df: DataFrame, s: Snapshot, keep: "list[str] | None" = None
    ) -> DataFrame:
        """A raw read of data entry ``s`` in current-schema terms: the
        hidden ``_p_*`` partition columns drop, names the files were
        written under map forward through the rename log, and the
        columns project onto the current schema. ``keep`` names
        bookkeeping columns (row positions, lineage) carried through
        as-is. Every Spark read of a data entry's files goes through
        here, so no reader can skip the rename log."""
        df = df.drop(
            *[c for c in df.columns if c.startswith(PARTITION_COL_PREFIX)]
        )
        df = self._map_renames(df, s.schema_version)
        return _align_df(df, self.schema, keep)

    def commit_spec(self, new_spec: PartitionSpec) -> int:
        sid = int(self.meta["current_spec_id"]) + 1
        with self._transaction():
            self.meta["specs"][str(sid)] = new_spec.to_json()
            self.meta["current_spec_id"] = sid
        return sid

    # -- write path --------------------------------------------------------

    def _prepare_write(
        self, df: DataFrame, lineage_cols: bool = False
    ) -> tuple[DataFrame, list[str]]:
        schema = self.schema
        keep = None
        if lineage_cols:
            # a43: a lineage-materializing rewrite carries the v3
            # lineage columns PHYSICALLY into its data files. Explicit
            # opt-in only — a stray user column of the same name on a
            # plain append must keep being projected away, not
            # silently minted as materialized lineage.
            keep = ["_row_id", "_last_updated_sequence_number"]
            for c in keep:
                df = df.withColumn(c, F.col(c).cast("long"))
        aligned = _align_df(df, schema, keep)
        spec = self.partition_spec
        sbf = self._spark_bucket_field()
        dual = self._bucket_layout_mode() == "dual"
        pcols = []
        for pf in spec.fields:
            if sbf is not None and pf.name == sbf.name and not dual:
                continue  # spark layout: bucketBy owns this field
                # (dual layout keeps the hive column: its dirs carry
                # the SPEC's murmur3 value for export + external reads
                # while bucketBy owns the files inside each dir)
            aligned = aligned.withColumn(
                pf.partition_column,
                pf.expression(schema[pf.source_column].dataType),
            )
            pcols.append(pf.partition_column)
        return aligned, pcols

    def _bucket_layout_mode(self) -> "str | None":
        """``write.bucket-layout``: 'spark' (bucketBy files, Spark
        hash owns the partition value — export must void the field),
        'dual' (hive dirs carry the SPEC's murmur3 bucket value AND
        the files inside each dir are real Spark bucket files — the
        export carries ``bucket[N]`` verbatim and Spark still joins
        with zero exchanges; costs one more directory level), or None
        (plain spec-murmur hive layout, a28). Any other value raises —
        a silently-ignored layout property would bench a re-exchanging
        join as if it were bucketed."""
        mode = (self.properties or {}).get("write.bucket-layout")
        if mode is None:
            return None
        if mode not in ("spark", "dual"):
            raise TableFormatError(
                f"unknown write.bucket-layout {mode!r} (spark | dual)"
            )
        return mode

    def _spark_bucket_field(self):
        """The bucket PartitionField handled by the Spark-native bucket
        layout, or None. Activated by table property
        ``write.bucket-layout=spark`` on a spec whose single bucket
        field sources an integral column: data files are written as
        REAL Spark bucket files (``bucketBy`` — Spark's murmur3 of the
        source key, bucket id in the file name) instead of Iceberg-
        murmur3 hive dirs. The payoff is Catalyst-visible co-location:
        ``to_df`` can re-declare the snapshot dir as a catalog bucketed
        table, so fact-fact joins on the bucket key schedule with NO
        exchange on either side; key =/IN predicates skip files at
        manifest level via the Spark-hash twin (spark_bucket_of). The
        trade, documented: per-file partition VALUES for
        this field are Spark bucket ids, not Iceberg bucket ids, so the
        Iceberg export maps the field to the spec's ``void`` transform
        (conservative and spec-legal — readers keep every file)."""
        if self._bucket_layout_mode() is None:
            return None
        buckets = [
            f for f in self.partition_spec.fields
            if f.base_transform == "bucket"
        ]
        if len(buckets) != 1:
            return None
        f = buckets[0]
        try:
            dtype = self.schema[f.source_column].dataType
        except KeyError:
            return None
        if not isinstance(
            dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        ):
            return None
        return f

    @staticmethod
    def _claimable_sort_field(f: dict) -> bool:
        """Whether a declared sort field is expressible by Spark's
        bucketed ``SORTED BY`` (asc-only, top-level identity column
        names). Non-claimable fields still sort PHYSICALLY
        (_bucket_sort_exprs); they just can't ride the catalog
        claim."""
        return (
            f.get("transform", "identity") == "identity"
            and f["direction"] == "asc"
            and f["null-order"] == "nulls-first"
            and "." not in f["column"]
        )

    def _bucket_secondary_fields(self, sbf) -> list[dict]:
        """The declared sort fields a bucket-layout write sorts AFTER
        the bucket key (ASC NULLS FIRST identity fields on the key
        itself drop — the leading key already orders them; transform
        fields on the key keep their place, e.g. a truncate-width
        refinement). A DESC / nulls-last identity declaration ON the
        bucket key conflicts with the layout's key-asc-leading file
        contract and raises loudly — dropping it would leave the
        metadata and export claiming an order the files don't have
        (r13 review finding; 'never a silently-dropped declaration'
        is the standing rule)."""
        out = []
        for f in self.sort_order_fields:
            if (
                f["column"] == sbf.source_column
                and f.get("transform", "identity") == "identity"
            ):
                if (
                    f["direction"] != "asc"
                    or f["null-order"] != "nulls-first"
                ):
                    raise TableFormatError(
                        f"write.sort-order declares the bucket key "
                        f"{sbf.source_column!r} as "
                        f"{f['direction']} {f['null-order']}, but the "
                        "bucket layout's exchange-free join contract "
                        "requires files led by the key ASC NULLS "
                        "FIRST — drop the key from the declaration "
                        "(it is implied) or drop the bucket layout"
                    )
                continue  # implied by the leading key
            out.append(f)
        return out

    def _bucket_sort_cols(self, sbf) -> list[str]:
        """The CLAIMABLE in-file sort of a bucket-layout write: the
        bucket key FIRST (the ordering prefix the exchange-free join
        contract needs), then the longest PREFIX of the declared
        secondary order that Spark's asc-only bucketed SORTED BY can
        truthfully express. Ordering claims are prefix-semantics: the
        first DESC / nulls-last / transform / nested field ends the
        claim (the files past that point are still sorted — by
        _bucket_sort_exprs — but the catalog cannot say so without
        over-claiming, a wrong-results class of bug for adoption).
        ONE derivation shared by the writer's ``sortBy`` and the
        manifest's ``sorted_by`` claim — if these ever drifted, the
        manifest would assert an order the files don't have."""
        cols = [sbf.source_column]
        for f in self._bucket_secondary_fields(sbf):
            if not self._claimable_sort_field(f):
                break
            cols.append(f["column"])
        return cols

    def _bucket_sort_exprs(self, sbf) -> "list[Column]":
        """The PHYSICAL in-file sort of a bucket-layout write: bucket
        key ascending first, then the declared order verbatim — full
        vocabulary (DESC, nulls-last, transforms, nested fields)
        through the same _sort_columns kernels every non-bucket sorted
        write uses. Applied as a pre-sort ahead of the bucket write;
        see _write_files for how the write is made to preserve it."""
        return [F.col(sbf.source_column).asc()] + _sort_columns(
            self._bucket_secondary_fields(sbf), self.schema
        )

    def append(self, df: DataFrame, branch: "str | None" = None) -> Snapshot:
        """One append = one snapshot commit (reference:
        ``iceberg_table.append``, data_generator.py:79). ``branch``
        targets a staging branch instead of main (the write half of
        write-audit-publish; see create_branch)."""
        return self._write(df, "append", branch=branch)

    def overwrite(self, df: DataFrame) -> Snapshot:
        """Replace table contents (one snapshot; old snapshots remain in
        history but are no longer live)."""
        snap = self._write(df, "overwrite")
        return snap

    _METRICS_PREFIX = "write.metadata.metrics.column."

    def _metrics_config(self) -> "tuple[str, dict[str, str]] | None":
        """Compiled ``write.metadata.metrics`` selection (Iceberg's
        metrics config): ``write.metadata.metrics.default`` plus
        per-column ``write.metadata.metrics.column.<name>`` overrides,
        each one of Iceberg's four modes —

        - ``full``: untruncated [min, max] bounds (OUR default; real
          Iceberg defaults to truncate(16) — divergence documented in
          ICEBERG_CONFORMANCE.md, our manifests are JSON not Avro so
          long bounds cost bytes, not correctness)
        - ``truncate(N)``: bounds with string values truncated to N
          chars — lower truncates down, upper rounds UP (last kept
          char incremented, Iceberg's UnicodeUtil rule) so the pair
          stays a sound enclosure
        - ``counts``: record counts only, no bounds (counts are
          always kept per file — ``record_count`` — so for this
          format the mode simply drops the bounds entry)
        - ``none``: no metrics for the column

        Named columns bypass the ``_STATS_MAX_COLUMNS`` width cap —
        naming a column IS the width decision (Iceberg's config exists
        precisely so a wide table can still carry bounds on its
        predicate columns). Returns None when everything is default."""
        props = self.properties or {}
        default = props.get("write.metadata.metrics.default", "full")
        per_col = {
            k[len(self._METRICS_PREFIX):]: v
            for k, v in props.items()
            if k.startswith(self._METRICS_PREFIX)
        }
        for v in (default, *per_col.values()):
            if v not in ("full", "none", "counts") and not re.fullmatch(
                r"truncate\((\d+)\)", v
            ):
                raise TableFormatError(
                    "write.metadata.metrics values must be 'full', "
                    "'none', 'counts', or 'truncate(N)', got "
                    f"{v!r}"
                )
            if (m := re.fullmatch(r"truncate\((\d+)\)", v)) and int(
                m.group(1)
            ) < 1:
                raise TableFormatError(
                    f"truncate length must be >= 1, got {v!r}"
                )
        if default == "full" and not per_col:
            return None
        return default, per_col

    def _max_records_per_file(self) -> "int | None":
        """``write.target-file-size-bytes`` (Iceberg's write-path
        file-size knob) expressed as Spark's ``maxRecordsPerFile``
        write option. Oversized data files are a measured scan-time
        hazard, not a style point: a 13 GB / 600 M-row parquet file
        carries a ~4.5 MB serialized footer that every fine-grained
        scan task re-parses — 4× wall on a full-table aggregate at
        sf300 vs the same rows in ~1 GB files (SCALE.md round-9).

        The bytes→rows conversion is calibrated from the table's OWN
        commit manifests (total size / total rows across live data
        files — O(metadata), no data-plane reads, the same stats
        Iceberg keeps per data file). A first commit with no observed
        files falls back to a deliberately WIDE per-field estimate:
        overestimating row width yields smaller-than-target files
        (harmless), underestimating yields the oversized files the
        knob exists to prevent."""
        raw = (self.properties or {}).get("write.target-file-size-bytes")
        if raw is None:
            return None
        try:
            target = int(raw)
        except (TypeError, ValueError):
            raise TableFormatError(
                f"write.target-file-size-bytes must be an integer byte "
                f"count, got {raw!r}"
            ) from None
        if target <= 0:
            raise TableFormatError(
                f"write.target-file-size-bytes must be positive, got {target}"
            )
        tot_bytes = tot_rows = 0
        # calibrate from the LIVE segment only (the fold scans read:
        # from the last rewrite forward) — expired tombstones and
        # superseded pre-overwrite files can carry a different row
        # width (schema evolution, re-sorted encodings) and a stale
        # underestimate yields exactly the oversized files this knob
        # exists to prevent (ADVICE r9)
        live = self.snapshots
        seg = (
            self._segment_ending_at(live[-1].snapshot_id) if live else []
        )
        for s in seg:
            if s.is_row_delete or s.expired:
                continue  # delete manifests count key tuples, not rows
            for f in s.files:
                tot_bytes += f["size_bytes"]
                tot_rows += f["record_count"]
        if tot_rows > 0:
            width = max(1, tot_bytes // tot_rows)
        else:
            width = _estimated_row_width(self.schema)
        return max(1, target // width)

    def _write_files(
        self,
        df: DataFrame,
        presorted: bool = False,
        lineage_cols: bool = False,
    ) -> str:
        """Write a new snapshot directory WITHOUT touching metadata;
        returns the relative dir. Crash-safe by construction: a dir no
        commit ever references is an orphan remove_orphan_files reaps.

        Honors Iceberg's ``write.distribution-mode`` table property
        for partitioned tables: ``none`` (default — incoming task
        layout wins, so T tasks × P live partition values can emit
        T×P files, the reference's small-file snowball), ``hash``
        (cluster rows by partition value before the write — one file
        per partition value per append, the property Iceberg
        recommends for partitioned writes), ``range`` (range-cluster
        by partition value — like hash, plus adjacent values land in
        adjacent tasks, which keeps min/max bounds tight when the
        partition transform is temporal). Spark-side this is a
        repartition on the HIDDEN partition columns, so the exchange
        key is exactly the directory key at any scale."""
        aligned, pcols = self._prepare_write(df, lineage_cols=lineage_cols)
        mode = (self.properties or {}).get(
            "write.distribution-mode", "none"
        )
        sort_fields = self.sort_order_fields
        if pcols and mode == "hash":
            aligned = aligned.repartition(*[F.col(c) for c in pcols])
        elif pcols and mode == "range":
            aligned = aligned.repartitionByRange(
                *[F.col(c) for c in pcols]
            )
        elif mode not in ("none", "hash", "range"):
            raise TableFormatError(
                f"unknown write.distribution-mode {mode!r} "
                "(none | hash | range)"
            )
        if presorted:
            # the caller (compact) already arranged the exact layout —
            # range-clustered + sorted with its own target_files count;
            # re-applying the declared order here would both double-
            # shuffle and destroy the pinned file count
            sort_fields = []
        if sort_fields and self._spark_bucket_field() is None:
            # Declared table sort order (write.sort-order): every
            # write honors it, Iceberg's sorted-write contract. An
            # unpartitioned, undistributed write range-clusters across
            # tasks first (Iceberg's default distribution-mode for
            # sorted tables is range) so file-level min/max bounds
            # tile the key space — that's what turns range predicates
            # into manifest file-skips (to_df pruning, a20/a31); a
            # partitioned or explicitly-distributed write keeps its
            # exchange and sorts within it. Cost at scale: one range
            # exchange per append, the price of a prunable layout —
            # and zero extra exchanges when a distribution mode
            # already shuffles.
            exprs = _sort_columns(sort_fields, self.schema)
            if not pcols and mode == "none":
                aligned = aligned.repartitionByRange(*exprs)
            aligned = aligned.sortWithinPartitions(*exprs)
        rel = f"data/snap-{uuid.uuid4().hex[:16]}"
        cap = self._max_records_per_file()
        sbf = self._spark_bucket_field()
        if sbf is not None:
            # deliberately NOT capped: the Spark bucket layout's scan
            # contract is one sorted file per bucket (single-file
            # ordering feeds exchange- and sort-free joins); file size
            # is governed by the bucket count N, Iceberg's own sizing
            # lever for bucketed tables.
            cap = None
            # Spark-native bucket layout (see _spark_bucket_field):
            # repartition on the key aligns write tasks with bucket ids
            # (same murmur3 pmod), one sorted file per bucket. bucketBy
            # requires the catalog API, so write through a throwaway
            # EXTERNAL table handle — DROP removes only the catalog
            # entry, the snapshot dir stays (crash between saveAsTable
            # and DROP leaks a catalog name in the in-memory session
            # catalog only; the files are governed by our commit).
            spark = aligned.sparkSession
            tmp = f"lake_bw_{uuid.uuid4().hex[:12]}"
            # Repartition on the EXPLICIT bucket-id expression
            # (pmod(hash(key), N) — Spark's own bucket id), not the
            # bare key column: when the incoming plan is a union of
            # already-bucket-partitioned scans (compact() folding a
            # fragmented table), the optimizer REMOVES a plain
            # repartition(N, key) as redundant per arm, the write runs
            # with arms × buckets input tasks, and bucketBy emits one
            # file per (task, bucket) — compaction silently becomes a
            # layout no-op (found live at sf100: 10 appends compacted
            # to 320 files, 10 per bucket; regression:
            # test_compact_folds_spark_bucket_files). The bucket-id
            # expression is not recognizable as the child partitioning
            # so the exchange survives, and every bucket lands wholly
            # in one task — one file per bucket, the scan contract.
            # Secondary in-file sort: a declared write.sort-order on a
            # bucket-layout table composes physically in FULL
            # vocabulary (r13) — the file stays sorted by the bucket
            # key FIRST (the ordering prefix the exchange-free join
            # needs, so the join plan fingerprint is unchanged) and
            # the declared order (incl. DESC / nulls-last / transform
            # fields) orders rows WITHIN equal keys, which tightens
            # parquet row-group bounds on the sort columns for
            # pushed-down range predicates. sortBy carries only the
            # truthful asc-identity claim prefix (_bucket_sort_cols);
            # declared fields past the claim ride a pre-sort instead.
            sort_cols = self._bucket_sort_cols(sbf)
            rich = len(self._bucket_secondary_fields(sbf)) > (
                len(sort_cols) - 1
            )
            bucket_expr = F.pmod(
                F.hash(F.col(sbf.source_column)), F.lit(sbf.param)
            )
            pre = aligned.repartition(sbf.param, bucket_expr)
            # CONCURRENCY HAZARD (r13 ADVICE, documented not guarded):
            # the planned-write toggle below is session-global. A
            # concurrent write on the same SparkSession between set
            # and restore would run with the wrong planned-write mode,
            # and the finally-restore can clobber an overlapping
            # writer's setting. Safe under this engine's documented
            # single-threaded-runner assumption (one driver thread per
            # session — the same assumption the CacheManager keying
            # and temp-view DDL already rely on); if concurrent
            # same-session writes ever become supported, scope the
            # toggle via spark.newSession() or a session-level lock.
            planned_conf = "spark.sql.optimizer.plannedWrite.enabled"
            planned_prior = spark.conf.get(planned_conf, "true")
            if rich:
                # The rich pre-sort leads with the bucket-id
                # expression, so its output ordering has the write's
                # required ordering (bucketIdExpression, *sortBy) as a
                # semantic prefix. Under the default PLANNED write
                # path the optimizer's V1Writes rule re-plans the sort
                # logically and ELIMINATES this one (measured: the
                # DESC tail came back ascending); under the legacy
                # physical path FileFormatWriter's orderingMatched
                # check sees the SortExec and elides the writer's own
                # sort, so the full declared order reaches the files
                # (measured both ways — see
                # test_bucket_sort_full_vocabulary_physical_order).
                pre = pre.sortWithinPartitions(
                    bucket_expr, *self._bucket_sort_exprs(sbf)
                )
                spark.conf.set(planned_conf, "false")
            try:
                writer = (
                    pre.write.mode("error")
                    .format("parquet")
                    .option("path", str(self.location / rel))
                    .bucketBy(sbf.param, sbf.source_column)
                    .sortBy(*sort_cols)
                )
                if pcols:
                    writer = writer.partitionBy(*pcols)
                writer.saveAsTable(tmp)
            finally:
                if rich:
                    spark.conf.set(planned_conf, planned_prior)
            spark.sql(f"DROP TABLE `{tmp}`")
            return rel
        writer = aligned.write.mode("error")
        if cap is not None:
            writer = writer.option("maxRecordsPerFile", cap)
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(str(self.location / rel))
        return rel

    def _collect_manifest(self, rel: str) -> list[dict[str, Any]]:
        """Per-file (path, size, footer row count, column min/max) for
        a just-written snapshot dir — the commit-time stats pass
        Iceberg itself runs when building manifests (lower_bounds /
        upper_bounds per data file). O(#files in THIS commit),
        driver-side, footer-priced: the stats come from the same
        footer read that prices the row count. Listing walks the local
        data plane (where Spark writes); same deployment note as
        ``files_df``."""
        import pyarrow.parquet as pq  # noqa: PLC0415

        root = self.location / rel
        sbf = self._spark_bucket_field()
        metrics = self._metrics_config()
        out = []
        for p in sorted(root.rglob("*.parquet")):
            md = pq.read_metadata(p)
            entry = {
                "path": str(p.relative_to(self.location)),
                "size_bytes": p.stat().st_size,
                "record_count": md.num_rows,
                "stats": _footer_column_bounds(md, metrics),
            }
            # Iceberg manifests record each data file's partition
            # tuple; ours comes from the hive dirs (hidden partition
            # values) plus, under the Spark bucket layout, the bucket
            # id Spark encoded in the file name — both serve the
            # manifest-level hash-membership/equality file skip.
            pvals = _partition_values_from_path(
                str(p.relative_to(root))
            )
            if sbf is not None:
                m = _SPARK_BUCKET_FILE_RE.search(p.name)
                if m and self._bucket_layout_mode() == "dual":
                    # dual layout: the partition TUPLE keeps the hive
                    # dir's spec-murmur value (export-true); the Spark
                    # bucket id rides a sidecar for Spark-hash file
                    # skips and adoption checks
                    entry["spark_bucket"] = int(m.group(1))
                    entry["layout"] = "dual-bucket"
                elif m:
                    pvals[sbf.name] = int(m.group(1))
                    # mark HOW the bucket value was minted: spark ids
                    # and iceberg ids prune with different hash twins
                    entry["layout"] = "spark-bucket"
                if m and self.sort_order_fields:
                    # record the secondary in-file sort the writer
                    # applied (sortBy(key, *order)) so adoption can
                    # declare SORTED BY truthfully per SNAPSHOT —
                    # snapshots written before the declaration carry
                    # no claim and adopt with the key-only sort
                    entry["sorted_by"] = self._bucket_sort_cols(sbf)
            if pvals:
                entry["partition"] = pvals
            out.append(entry)
        return out

    @staticmethod
    def _manifest_rows(files: list[dict[str, Any]]) -> int:
        return sum(f["record_count"] for f in files)

    def _assign_row_ids(self, manifest: list[dict[str, Any]]) -> None:
        """v3 row lineage (a42): stamp each data file's first_row_id
        from the table cursor and advance ``next_row_id``. Called by
        every append-shaped commit (plain append, add_files import,
        WAP fast_forward publish)."""
        cursor = int(self.meta.get("next_row_id", 0))
        for f in manifest:
            f["first_row_id"] = cursor
            cursor += int(f["record_count"])
        self.meta["next_row_id"] = cursor

    def _write(
        self,
        df: DataFrame,
        operation: str,
        branch: "str | None" = None,
        presorted: bool = False,
        lineage_materialized: bool = False,
    ) -> Snapshot:
        if branch is not None:
            # validate BEFORE the Spark write: a typo'd branch name or
            # a disallowed operation must fail free of side effects,
            # not strand an orphan data dir. Branch writes are
            # APPEND-only by design (the WAP pattern stages appends;
            # rewrites publish through main).
            self._branch(branch)
            if operation != "append":
                raise TableFormatError(
                    f"branch writes are append-only; {operation!r} "
                    "must go through main"
                )
        rel = self._write_files(
            df, presorted=presorted, lineage_cols=lineage_materialized
        )
        manifest = self._collect_manifest(rel)
        self._warn_dual_layout_file_product(manifest)
        # rewrite commit (overwrite / replace / delete / update / merge):
        # the old live set moves to history — time travel keeps working
        # across every rewrite flavor, and committing under the FINAL
        # label means no crash window can leave a rewrite durably
        # mislabeled 'overwrite' (the changelog's
        # emit-nothing-by-'replace'-label optimization depends on the
        # label surviving)
        replaces = (
            []
            if operation == "append"
            else [s["snapshot_id"] for s in self.meta["snapshots"]]
        )
        return self._commit_snapshots(
            [{"operation": operation, "data_dir": rel, "files": manifest}],
            replaces,
            branch=branch,
            lineage_materialized=lineage_materialized,
        )[0]

    def _commit_snapshots(
        self,
        entries: list[dict[str, Any]],
        replaces: "Collection[str]" = (),
        branch: "str | None" = None,
        lineage_materialized: bool = False,
    ) -> list[Snapshot]:
        """THE commit of written files as snapshot entries; every
        data-plane op ends here after its IO. ``entries`` carry each
        new entry's payload only: ``operation`` plus ``data_dir`` and
        ``files``, a delete payload, or ``source_snapshots``.
        ``replaces`` names the live entries the new ones supersede
        (none, all, or a subset); they move to history in live order.
        ``branch`` appends to a staging branch instead of main.

        Each entry is stamped here: its id is the ``snap-`` suffix of
        its data dir (else fresh), all share one timestamp, they take
        consecutive sequence numbers and the current schema and spec.
        Multi-entry commits (a mask plus its re-append) land in ONE
        metadata commit, so no reader can observe the torn state. A
        failed commit puts the document back (``_transaction``); the
        written files become orphans remove_orphan_files reaps."""
        now = int(time.time() * 1000)
        seq = int(self.meta.get("last_sequence_number", 0))
        with self._transaction():
            snaps = []
            for e in entries:
                e = {"data_dir": "", **e}
                if branch is None and (
                    e["operation"] in ("append", "overwrite")
                    or lineage_materialized
                ):
                    # v3 row lineage (a42): plain appends consume the
                    # table's row-id space — each data file records the
                    # id of its first row, ids continue positionally
                    # within the file. Rewrite commits that
                    # MATERIALIZED lineage (a43/a45: the rewrite wrote
                    # each surviving row's _row_id /
                    # _last_updated_sequence_number as physical
                    # columns) also consume a fresh block — the spec's
                    # inheritance base for any null-_row_id slots
                    # (empty for a pure compaction; merge inserts use
                    # it; readers coalesce materialized over
                    # positional). OVERWRITE assigns a fresh block too
                    # (r16): its rows are new content with no prior
                    # identity, exactly the spec's added-files
                    # assignment — so lineage stays servable across
                    # every commit this engine writes. Only a
                    # non-carrying "replace" (compact of a pre-lineage
                    # history, a manifest fold) stays unassigned —
                    # fresh ids there would claim identity for rows
                    # that HAVE one, just unrecorded. Branch appends
                    # stage unassigned and receive their block at
                    # fast_forward (publish order is what decides it).
                    self._assign_row_ids(e["files"])
                seq += 1
                snaps.append(
                    Snapshot(
                        snapshot_id=(
                            e["data_dir"].rsplit("snap-", 1)[1]
                            if "snap-" in e["data_dir"]
                            else uuid.uuid4().hex[:16]
                        ),
                        timestamp_ms=now,
                        schema_version=int(
                            self.meta["current_schema_version"]
                        ),
                        spec_id=int(self.meta["current_spec_id"]),
                        sequence_number=seq,
                        **e,
                    )
                )
            self.meta["last_sequence_number"] = seq
            new = [s.to_json() for s in snaps]
            if branch is not None:
                br = self._branch(branch)
                self.meta["branches"][branch] = {
                    **br,
                    "snapshots": [*br["snapshots"], *new],
                }
            else:
                live = self.meta["snapshots"]
                if replaces:
                    self.meta.setdefault("snapshot_history", []).extend(
                        s for s in live if s["snapshot_id"] in replaces
                    )
                self.meta["snapshots"] = [
                    *(s for s in live if s["snapshot_id"] not in replaces),
                    *new,
                ]
        return snaps

    # -- branches (Iceberg branch refs; write-audit-publish) ---------------

    def _branch(self, name: str) -> dict:
        br = (self.meta.get("branches") or {}).get(name)
        if br is None:
            raise TableFormatError(f"unknown branch {name!r}")
        return br

    @property
    def branches(self) -> list[str]:
        return sorted(self.meta.get("branches") or {})

    def create_branch(self, name: str) -> None:
        """Fork a staging branch from the CURRENT main state (Iceberg
        branch ref). Appends target it via ``append(df, branch=...)``,
        reads via ``to_df(spark, branch=...)``; ``fast_forward``
        publishes it back to main — the write-audit-publish workflow.
        Metadata-only: branch entries share data dirs with main."""
        if name == "main":
            raise TableFormatError("'main' is the table itself")
        if name in (self.meta.get("tags") or {}):
            raise TableFormatError(f"ref {name!r} already names a tag")
        if name in self.branches:
            raise TableFormatError(f"branch {name!r} already exists")
        with self._transaction():
            self.meta.setdefault("branches", {})[name] = {
                "snapshots": list(self.meta["snapshots"])
            }

    def drop_branch(self, name: str) -> None:
        """Abandon a staging branch. Its unpublished snapshot dirs
        become orphans (remove_orphan_files reaps them) — the audit
        failed, nothing was published."""
        self._branch(name)  # raises on unknown
        with self._transaction():
            del self.meta["branches"][name]

    def fast_forward(self, name: str) -> int:
        """Publish a staging branch: main's live list becomes the
        branch's, PROVIDED main has not moved since the fork (the
        branch list must extend main's — Iceberg's fast_forward
        procedure has the same ancestor requirement). Returns the
        number of published snapshots; the branch is removed."""
        br = self._branch(name)
        main_ids = [s["snapshot_id"] for s in self.meta["snapshots"]]
        br_ids = [s["snapshot_id"] for s in br["snapshots"]]
        if br_ids[: len(main_ids)] != main_ids:
            raise TableFormatError(
                f"branch {name!r} does not fast-forward: main moved "
                "since the fork (rebase by re-staging, or publish "
                "through a fresh branch)"
            )
        published = len(br_ids) - len(main_ids)
        # v3 row lineage (a42): branch appends stage WITHOUT row-id
        # assignments (main's cursor position at publish time is what
        # decides them — two branches staging concurrently must not
        # both consume the same block). Assign here, in publish order,
        # exactly as a direct append would have. The published entries
        # are copies, so a failed commit leaves the branch unassigned.
        new = [
            {**s, "files": [dict(f) for f in s["files"]]}
            for s in br["snapshots"][len(main_ids):]
        ]
        with self._transaction():
            self._assign_row_ids(
                [
                    f
                    for s in new
                    if s["operation"] == "append"
                    for f in s["files"]
                    if f.get("first_row_id") is None
                ]
            )
            self.meta["snapshots"] = [*self.meta["snapshots"], *new]
            del self.meta["branches"][name]
        return published

    def _warn_dual_layout_file_product(
        self, manifest: list[dict[str, Any]]
    ) -> None:
        """LOUD hint when the dual bucket layout's dirs x buckets file
        product lands as tiny files (VERDICT r10 'what's wrong' 2): a
        ``bucket[N]`` dual table writes up to N hive dirs x N Spark
        bucket files per commit, so declaring bucket[32] on a small
        table silently buys a 1024-file snapshot of ~KB files — the
        measured +47% sf10 scan regression (SCALE.md). Warn (not
        error: the layout is correct and export-true) when the commit
        writes at least N*N/2 files whose mean size is under 1/16 of
        the file-size target, with the concrete fix in the message.
        Same house rule as the adoption fallback below: a silent
        performance cliff is a bug even when values are right."""
        sbf = self._spark_bucket_field()
        if (
            sbf is None
            or self._bucket_layout_mode() != "dual"
            or not manifest
        ):
            return
        n = len(manifest)
        # two gates: the commit must look like the quadratic product
        # (>= half of N*N) AND be genuinely many files (a 4-file
        # snapshot is not a scan cliff whatever its mean size)
        if n < max(64, (sbf.param * sbf.param) // 2):
            return
        raw_target = (self.properties or {}).get(
            "write.target-file-size-bytes"
        )
        try:
            target = int(raw_target) if raw_target else 64 * 1024 * 1024
        except (TypeError, ValueError):
            target = 64 * 1024 * 1024
        mean = sum(f["size_bytes"] for f in manifest) / n
        if mean >= target / 16:
            return
        import warnings  # noqa: PLC0415

        warnings.warn(
            f"dual bucket layout on {self.identifier}: this commit "
            f"wrote {n} files averaging {int(mean) // 1024} KiB — the "
            f"bucket[{sbf.param}] dirs x buckets product at this data "
            "volume produces tiny files, which re-adds the in-join "
            "sort and regresses scans (measured +47% at sf10, "
            "SCALE.md). Lower the spec bucket count relative to data "
            "volume, or use write.bucket-layout=spark if external-"
            "reader interop is not needed",
            RuntimeWarning,
            stacklevel=3,
        )

    @staticmethod
    def _null_safe(condition: str) -> str:
        """SQL DML three-valued-logic wrapper: DELETE/UPDATE act only
        on rows where the predicate is TRUE; FALSE **and NULL** rows
        survive. The stored predicate is pre-wrapped so every scan-time
        mask ``NOT (pred)`` keeps NULL-condition rows — without this,
        ``NOT (col = 'v')`` is NULL for NULL ``col`` and the filter
        silently destroys those rows (they'd be dropped by the mask
        yet absent from the re-appended TRUE set)."""
        return f"coalesce(({condition}), false)"

    def _validate_predicate(self, spark: SparkSession, condition: str) -> None:
        """Validate a merge-on-read predicate in the EXACT string form
        every future scan will use — an expr-valid-but-NOT()-broken
        predicate (e.g. one ending in a line comment) must fail at
        commit time, never wedge reads."""
        self.to_df(spark).filter(
            f"NOT ({self._null_safe(condition)})"
        ).schema  # noqa: B018

    # -- row-level operations (copy-on-write) ------------------------------

    def delete_where(
        self,
        spark: SparkSession,
        condition: str,
        strategy: str = "copy_on_write",
    ) -> "Snapshot | None":
        """Row-level DELETE. ``strategy="copy_on_write"`` (default)
        rewrites the live set minus matching rows as one overwrite
        snapshot — read-optimal, write cost proportional to table
        size. ``strategy="merge_on_read"`` commits a PREDICATE
        snapshot instead (the Iceberg v2 delete-file analog at
        predicate granularity): O(metadata) commit, nothing rewritten
        — the scan filters earlier snapshots' rows at read time, and
        ``compact()`` later folds the predicates away (Iceberg's
        rewrite_position_delete_files analog). At 100 TB a
        one-partition delete must not rewrite the table; this is that
        path. ``strategy="merge_on_read_position"`` commits a
        POSITION-delete file instead (Iceberg v2's position-delete
        granularity): one visible-state scan finds the matching rows'
        (file, ordinal) addresses, the tuple file commits as the mask,
        nothing is rewritten, and — unlike the predicate form — the
        scan-time mask cost is an exact anti-join independent of
        predicate complexity, the predicate is evaluated ONCE at
        delete time (a later schema change can't reinterpret it), and
        the commit is replayable row-for-row by the changelog. Returns
        None if no row matched (an empty position mask would add a
        scan arm for nothing). All strategies share SQL DELETE
        semantics: removed = rows where ``condition`` IS TRUE; FALSE
        and NULL rows are kept (three-valued logic, ``_null_safe``)."""
        if strategy == "merge_on_read_position":
            self._validate_predicate(spark, condition)
            matched = (
                self.to_df(spark, _with_positions=True)
                .filter(self._null_safe(condition))
                .select(
                    F.col("_pos_file").alias("file_path"),
                    F.col("_pos_index").alias("pos"),
                )
                # the spec's required delete-file ordering
                .sort("file_path", "pos")
                .coalesce(1)
            )
            pos_rel = f"data/pos-{uuid.uuid4().hex[:16]}"
            matched.write.mode("error").parquet(str(self.location / pos_rel))
            manifest = self._collect_manifest(pos_rel)
            if self._manifest_rows(manifest) == 0:
                self.data_io.delete_recursive(str(self.location / pos_rel))
                return None
            return self._commit_snapshots(
                [
                    {
                        "operation": "delete",
                        "delete_pos_dir": pos_rel,
                        "files": manifest,
                    }
                ]
            )[0]
        if strategy == "merge_on_read":
            self._validate_predicate(spark, condition)
            # stored null-safe: scans apply NOT(pred) verbatim
            pred = self._null_safe(condition)
            return self._commit_snapshots(
                [{"operation": "delete", "delete_predicate": pred}]
            )[0]
        if strategy != "copy_on_write":
            raise TableFormatError(f"unknown delete strategy {strategy!r}")
        # a45: survivors carry their row lineage through the rewrite
        # (a DELETE does not update them, so sequence numbers hold)
        src, carry = self._lineage_source(spark)
        kept = src.filter(f"NOT ({self._null_safe(condition)})")
        return self._write(kept, "delete", lineage_materialized=carry)

    def update_where(
        self,
        spark: SparkSession,
        condition: str,
        assignments: dict[str, str],
        strategy: str = "copy_on_write",
    ) -> Snapshot | None:
        """Row-level UPDATE: SET col = expr for rows matching
        ``condition``. All assignment expressions read the PRE-update
        row (one select, not a withColumn chain) — SQL's
        simultaneous-assignment semantics, so ``SET a = b, b = a``
        swaps.

        ``strategy="copy_on_write"`` (default) rewrites the live set.
        ``strategy="merge_on_read"`` writes ONLY the changed rows:
        one append dir holding the post-update matching rows plus a
        predicate-delete entry masking their pre-update versions, both
        in a SINGLE metadata commit (no torn intermediate state) —
        write cost proportional to the matched rows, not the table.
        The delete predicate carries the same guards as
        ``delete_where(strategy="merge_on_read")``.
        ``strategy="merge_on_read_position"`` commits the same atomic
        pair but masks the pre-update versions by (file, ordinal)
        POSITION instead of by predicate — the shape production
        Iceberg writers emit for MoR UPDATE: the predicate is
        evaluated once at update time (a later schema change cannot
        reinterpret the mask), and the scan-time cost is an exact
        anti-join independent of predicate complexity. One
        visible-state scan produces both the addresses and the
        post-images. Returns ``None`` (and commits NOTHING) when no
        row matched — a no-op must not add a permanent scan-time mask
        arm.
        """
        self._check_assignment_targets(assignments)
        cond = F.expr(condition)
        if strategy == "merge_on_read_position":
            self._validate_predicate(spark, condition)
            matched = (
                self.to_df(spark, _with_positions=True)
                .filter(self._null_safe(condition))
                .persist()  # delta-sized; feeds both commits below
            )
            try:
                pos_rel = f"data/pos-{uuid.uuid4().hex[:16]}"
                (
                    matched.select(
                        F.col("_pos_file").alias("file_path"),
                        F.col("_pos_index").alias("pos"),
                    )
                    .sort("file_path", "pos")
                    .coalesce(1)
                    .write.mode("error")
                    .parquet(str(self.location / pos_rel))
                )
                pos_manifest = self._collect_manifest(pos_rel)
                if self._manifest_rows(pos_manifest) == 0:
                    self.data_io.delete_recursive(
                        str(self.location / pos_rel)
                    )
                    return None
                changed = matched.select(
                    *[
                        F.expr(assignments[f.name])
                        .cast(f.dataType)
                        .alias(f.name)
                        if f.name in assignments
                        else F.col(f.name)
                        for f in self.schema.fields
                    ]
                )
                rel = self._write_files(changed)
                # r16: the re-appended post-update versions are ADDED
                # files — the 'append' takes a fresh id block (spec
                # assignment; MoR updates give rewritten rows new ids,
                # CoW is the id-preserving path)
                return self._commit_snapshots(
                    [
                        {
                            "operation": "delete",
                            "delete_pos_dir": pos_rel,
                            "files": pos_manifest,
                        },
                        {
                            "operation": "append",
                            "data_dir": rel,
                            "files": self._collect_manifest(rel),
                        },
                    ]
                )[-1]
            finally:
                matched.unpersist()
        if strategy == "merge_on_read":
            self._validate_predicate(spark, condition)
            changed = self.to_df(spark).filter(cond).select(
                *[
                    F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
                    if f.name in assignments
                    else F.col(f.name)
                    for f in self.schema.fields
                ]
            )
            rel = self._write_files(changed)
            manifest = self._collect_manifest(rel)
            if self._manifest_rows(manifest) == 0:
                # no row matched: committing the pair anyway would
                # permanently add one scan-time mask arm (and a
                # snapshot-log entry) for a no-op. The check is free —
                # decided from the just-written parquet footers, no
                # extra Spark action.
                self.data_io.delete_recursive(str(self.location / rel))
                return None
            # the pair (predicate mask + post-update rows) shares ONE
            # timestamp and lands in ONE metadata commit, so timestamp
            # travel can never observe the torn delete-only state
            pred = self._null_safe(condition)
            return self._commit_snapshots(
                [
                    {"operation": "delete", "delete_predicate": pred},
                    {
                        "operation": "append",
                        "data_dir": rel,
                        "files": manifest,
                    },
                ]
            )[-1]
        if strategy != "copy_on_write":
            raise TableFormatError(f"unknown update strategy {strategy!r}")
        df, carry = self._lineage_source(spark)
        sel = [
            F.when(
                cond,
                F.expr(assignments[f.name]).cast(f.dataType),
            )
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in assignments
            else F.col(f.name)
            for f in self.schema.fields
        ]
        if carry:
            # a45: updated rows keep their _row_id and bump
            # _last_updated_sequence_number to THIS commit's sequence
            # (peeked as last+1 — _commit_snapshots assigns the same
            # value on the very next commit of this single-threaded
            # handle); untouched
            # rows carry both through unchanged
            next_seq = int(self.meta.get("last_sequence_number", 0)) + 1
            sel += [
                F.col("_row_id"),
                F.when(cond, F.lit(next_seq).cast("long"))
                .otherwise(F.col("_last_updated_sequence_number"))
                .alias("_last_updated_sequence_number"),
            ]
        return self._write(
            df.select(*sel), "update", lineage_materialized=carry
        )

    def _check_assignment_targets(self, assignments: dict[str, str]) -> None:
        unknown = set(assignments) - {f.name for f in self.schema.fields}
        if unknown:
            raise TableFormatError(
                f"SET targets not in schema: {sorted(unknown)}"
            )

    def merge_into(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        when_matched_update: dict[str, str] | None = None,
        when_matched_delete: bool = False,
        insert_not_matched: bool = True,
        when_matched: list[tuple[str | None, str, dict[str, str] | None]]
        | None = None,
        insert_assignments: dict[str, str] | None = None,
        insert_condition: str | None = None,
        strategy: str = "copy_on_write",
    ) -> Snapshot | None:
        """MERGE INTO: upsert ``source`` into the table on
        ``key_cols``.

        ``when_matched`` is an ordered clause list
        ``[(condition | None, "update" | "delete", assignments)]`` with
        SQL MERGE first-match-wins semantics: for each matched row the
        first clause whose condition holds (None = always) applies and
        later clauses are skipped. Conditions and update expressions
        see target columns by name and source columns as ``s_<name>``.
        The legacy kwargs (``when_matched_update`` /
        ``when_matched_delete``) remain as shorthand for a single
        unconditional clause.

        not matched -> insert the source row (when enabled);
        ``insert_assignments`` maps target columns to expressions over
        the *source* columns (standard ``INSERT (cols) VALUES (...)``),
        unset target columns null-fill; ``insert_condition`` gates the
        insert (``WHEN NOT MATCHED AND <cond>``), also over source
        columns.

        ``strategy="copy_on_write"`` (default): one shuffle on the
        merge keys; the rewrite is one overwrite snapshot. This is the
        canonical distributed upsert: left join target->source for the
        update/delete side, anti join source->target for inserts —
        clause conditions add CASE branches, never extra joins, so the
        plan shape is scale-stable.

        ``strategy="merge_on_read"`` (Iceberg's
        ``write.merge.mode=merge-on-read``): write cost follows the
        MERGE BATCH, not the table. One append dir holds the post-merge
        versions of affected matched rows plus the inserts; an
        EQUALITY-DELETE snapshot (Iceberg v2 equality-delete-file
        analog) references a parquet of the affected key tuples and
        masks their pre-merge versions at scan time via a broadcast
        anti-join. Both snapshots share one timestamp and land in one
        metadata commit (no torn state), exactly like the UPDATE pair.
        The nightly 100 TB bulk upsert touches a fraction of the keys —
        this path never rewrites the untouched ones; ``compact()``
        folds the key masks away later. Matched rows whose every clause
        condition is FALSE/NULL are untouched; if they share a key with
        an affected row they are re-appended unchanged (the key mask is
        key-granular, rows must not be lost). A MERGE that matches
        nothing and inserts nothing returns ``None`` and commits
        NOTHING (decided from the written parquet footers — no extra
        Spark action); each half of the delete/append pair is likewise
        committed only when non-empty.
        """
        if when_matched is None:
            # legacy-kwargs precedence: delete first, preserving the old
            # if/elif behavior where when_matched_delete=True dropped
            # matched rows even if an update dict was also passed
            when_matched = []
            if when_matched_delete:
                when_matched.append((None, "delete", None))
            if when_matched_update:
                when_matched.append((None, "update", when_matched_update))
        for _cond, action, assigns in when_matched:
            if action == "update":
                self._check_assignment_targets(assigns or {})
            elif action != "delete":
                raise TableFormatError(
                    f"unknown WHEN MATCHED action {action!r}"
                )
        if insert_assignments:
            self._check_assignment_targets(insert_assignments)
        if strategy not in ("copy_on_write", "merge_on_read"):
            raise TableFormatError(f"unknown merge strategy {strategy!r}")
        if strategy == "merge_on_read":
            # the MoR path runs TWO Spark actions (key-file write, then
            # the append write); each would re-evaluate `source`
            # independently, so a non-deterministic source (rand(),
            # sampling, a re-read of concurrently changing data) could
            # mask keys whose rows are never re-appended — silent data
            # loss. Materialize the source ONCE (Delta Lake
            # materializes its MERGE source for exactly this reason);
            # cost is the merge batch, never the table. The
            # copy-on-write path is a single action and needs none of
            # this.
            source = source.localCheckpoint(eager=True)
        # a45: the CoW rewrite carries row lineage when assignable
        # (the MoR path derives its own plain target scan)
        if strategy == "copy_on_write":
            target, carry_lineage = self._lineage_source(spark)
        else:
            target, carry_lineage = self.to_df(spark), False
        cols = [f.name for f in self.schema.fields]
        src = source.select(
            *[F.col(c).alias(f"s_{c}") for c in source.columns]
        )

        def clause_flags(
            matched: Column,
        ) -> tuple[dict[str, Column], Column, Column]:
            # first-match-wins: clause i fires when matched AND no
            # earlier clause's condition held AND its own condition
            # holds. Branch conditions are disjoint, so per-column CASE
            # nesting order doesn't matter. All SET expressions read
            # the PRE-update row (simultaneous assignment, same
            # contract as update_where). Returns (per-column value
            # expressions, drop flag, any-update-fired flag).
            col_expr: dict[str, Column] = {c: F.col(c) for c in cols}
            drop = F.lit(False)
            updated = F.lit(False)
            prior = F.lit(False)
            for cond_s, action, assigns in when_matched:
                # NULL condition = not satisfied (SQL three-valued
                # logic); coalesce keeps `prior` two-valued so later
                # clauses still get their chance when an earlier
                # condition was UNKNOWN
                this = (
                    F.coalesce(F.expr(cond_s), F.lit(False))
                    if cond_s
                    else F.lit(True)
                )
                fires = matched & ~prior & this
                if action == "update":
                    for c, e in (assigns or {}).items():
                        col_expr[c] = F.when(
                            fires, F.expr(e).cast(self.schema[c].dataType)
                        ).otherwise(col_expr[c])
                    updated = updated | fires
                else:  # delete
                    drop = drop | fires
                prior = prior | this
            return col_expr, drop, updated

        def build_inserts() -> DataFrame | None:
            if not insert_not_matched:
                return None
            inserts = source.join(
                target.select(*key_cols).distinct(), key_cols, "left_anti"
            )
            if insert_condition:
                inserts = inserts.filter(insert_condition)
            if insert_assignments:
                return inserts.select(
                    *[
                        F.expr(insert_assignments[c])
                        .cast(self.schema[c].dataType)
                        .alias(c)
                        if c in insert_assignments
                        else F.lit(None)
                        .cast(self.schema[c].dataType)
                        .alias(c)
                        for c in cols
                    ]
                )
            return inserts.select(
                *[
                    F.col(c).cast(self.schema[c].dataType).alias(c)
                    if c in inserts.columns
                    else F.lit(None).cast(self.schema[c].dataType).alias(c)
                    for c in cols
                ]
            )

        if strategy == "merge_on_read":
            return self._merge_on_read(
                spark, src, key_cols, clause_flags, build_inserts, cols
            )
        on = [target[k] == src[f"s_{k}"] for k in key_cols]
        joined = target.join(
            src, on[0] if len(on) == 1 else F.expr(
                " AND ".join(f"({k} = s_{k})" for k in key_cols)
            ),
            "left",
        )
        matched = F.col(f"s_{key_cols[0]}").isNotNull()
        col_expr, drop, updated = clause_flags(matched)
        kept_cols = [col_expr[c].alias(c) for c in cols]
        if carry_lineage:
            # a45: carried/updated rows keep their _row_id; rows an
            # update clause fired on bump their sequence to THIS
            # commit's (peeked last+1, same as update_where); inserts
            # get NULL lineage — the fresh first_row_id block the
            # commit consumes assigns them positionally (the spec's
            # null-slot inheritance rule, same coalesce as a43)
            next_seq = int(self.meta.get("last_sequence_number", 0)) + 1
            kept_cols += [
                F.col("_row_id"),
                F.when(updated, F.lit(next_seq).cast("long"))
                .otherwise(F.col("_last_updated_sequence_number"))
                .alias("_last_updated_sequence_number"),
            ]
        kept = joined.filter(~drop).select(*kept_cols)
        result = kept
        inserts_aligned = build_inserts()
        if inserts_aligned is not None:
            if carry_lineage:
                inserts_aligned = inserts_aligned.select(
                    "*",
                    F.lit(None).cast("long").alias("_row_id"),
                    F.lit(None)
                    .cast("long")
                    .alias("_last_updated_sequence_number"),
                )
            result = kept.unionByName(inserts_aligned)
        return self._write(
            result, "merge", lineage_materialized=carry_lineage
        )

    def _merge_on_read(
        self,
        spark: SparkSession,
        src: DataFrame,
        key_cols: list[str],
        clause_flags,
        build_inserts,
        cols: list[str],
    ) -> Snapshot | None:
        """The equality-delete commit half of ``merge_into``: see its
        docstring. Affected keys -> parquet key file (the mask);
        post-merge versions of affected-key matched rows + inserts ->
        one append dir; both land in a single metadata commit. The
        re-append set is semi-joined against the WRITTEN key file (read
        back), not the in-memory plan, so the scan-time mask and the
        re-appended rows derive from the same materialized key set —
        belt to the source-materialization braces in ``merge_into``."""
        target = self.to_df(spark)
        joined = target.join(
            src,
            F.expr(" AND ".join(f"({k} = s_{k})" for k in key_cols)),
            "inner",
        )
        col_expr, drop, updated = clause_flags(F.lit(True))
        affected_keys = (
            joined.filter(drop | updated).select(*key_cols).distinct()
        )
        keys_rel = f"data/keys-{uuid.uuid4().hex[:16]}"
        affected_keys.write.mode("error").parquet(
            str(self.location / keys_rel)
        )
        keys_manifest = self._collect_manifest(keys_rel)
        keys_df = spark.read.parquet(*self._paths(keys_manifest))
        if (
            sum(f["size_bytes"] for f in keys_manifest)
            <= _BROADCAST_KEYFILE_MAX_BYTES
        ):
            keys_df = F.broadcast(keys_df)
        # every matched row sharing an affected key is re-appended
        # (clause applied; unfired same-key duplicates pass through
        # unchanged) — the key mask is key-granular and must not lose
        # rows it masks
        appended = (
            joined.join(keys_df, key_cols, "left_semi")
            .filter(~drop)
            .select(*[col_expr[c].alias(c) for c in cols])
        )
        inserts_aligned = build_inserts()
        if inserts_aligned is not None:
            appended = appended.unionByName(inserts_aligned)
        return self._commit_key_delete(
            keys_rel, keys_manifest, key_cols, appended
        )

    def _commit_key_delete(
        self,
        keys_rel: str,
        keys_manifest: list[dict[str, Any]],
        key_cols: list[str],
        appended: DataFrame,
    ) -> Snapshot | None:
        """Write ``appended`` and commit it with the written key file
        ``keys_rel`` as one equality-delete + append pair — the commit
        half of a merge-on-read MERGE and of a keyed
        ``apply_changelog``. An empty half is dropped (an insert-only
        MERGE needs no mask, a delete-only one no append); if both are
        empty nothing commits and None returns: committing anyway
        would permanently add one anti-join mask arm per earlier data
        snapshot on every future scan, plus snapshot-log noise, for a
        no-op. Decided from the just-written parquet footers — zero
        extra Spark actions."""
        rel = self._write_files(appended)
        app_manifest = self._collect_manifest(rel)
        entries = []
        if self._manifest_rows(keys_manifest) > 0:
            entries.append(
                {
                    "operation": "delete",
                    "delete_keys_dir": keys_rel,
                    "delete_key_cols": list(key_cols),
                    "files": keys_manifest,
                }
            )
        else:
            self.data_io.delete_recursive(str(self.location / keys_rel))
        if self._manifest_rows(app_manifest) > 0:
            # r16: re-appended versions/inserts are ADDED files — the
            # 'append' takes a fresh id block (spec assignment)
            entries.append(
                {"operation": "append", "data_dir": rel, "files": app_manifest}
            )
        else:
            self.data_io.delete_recursive(str(self.location / rel))
        return self._commit_snapshots(entries)[-1] if entries else None

    def _lineage_source(
        self, spark: SparkSession
    ) -> "tuple[DataFrame, bool]":
        """Rewrite input for copy-on-write DML (a45): the
        lineage-bearing scan when every live file carries an
        assignment — each surviving row's _row_id /
        _last_updated_sequence_number ride the rewrite as physical
        columns, exactly as ``compact`` does (a43) — else the plain
        scan, leaving the rewrite non-materializing (and lineage_df's
        refusal intact for pre-lineage histories)."""
        if self._lineage_assignable():
            return self.lineage_df(spark), True
        return self.to_df(spark), False

    # -- incremental reads -------------------------------------------------

    def read_appends_since(
        self, spark: SparkSession, snapshot_id: str
    ) -> DataFrame:
        """Incremental consumption: rows appended strictly after the
        given snapshot (CDC-lite for append-only tables; raises if a
        rewrite intervened, where row-level diffing would be needed).
        Thin wrapper over ``changes_between`` — same scan, minus the
        CDC metadata columns."""
        return self.changes_between(spark, from_snapshot=snapshot_id).drop(
            "_snapshot_id", "_change_type"
        )

    # -- maintenance -------------------------------------------------------

    def compact(
        self,
        spark: SparkSession,
        sort_by: list[str] | None = None,
        target_files: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> Snapshot:
        """Rewrite-data-files analog: merge all live snapshots into one
        (the reference's append pattern snowballs 1-20-row files —
        SURVEY §4 'small-file behavior'; this is the maintenance op it
        lacks). History keeps the old snapshots for time travel; the
        live set becomes the single compacted snapshot.

        ``sort_by`` applies a table sort order during the rewrite
        (Iceberg's sort-order + sorted rewrite): rows are range-
        clustered across files on the sort key and sorted within each
        file, so min/max file statistics turn range predicates into
        file skips at scan time (``to_df(pruning=...)`` consumes them
        from the commit-time manifest).

        ``target_files`` pins the rewrite's output file count —
        Iceberg's target-file-size knob expressed as a count (a size
        target divides the live bytes into a count anyway). Without
        it, Spark/AQE sizes the shuffle, which on small live sets
        coalesces to one file — correct, but no longer range-prunable.

        ``cluster_by`` applies MULTI-DIMENSIONAL clustering (the
        Z-order of Delta's OPTIMIZE ZORDER BY / Iceberg's
        rewrite_data_files z-order strategy): rows are range-clustered
        on an interleaved-bit z-value of the named columns, so per-file
        min/max bounds stay tight on EVERY clustered column — a
        lexicographic ``sort_by`` prunes only on the leading key, while
        a predicate on the trailing key still scans every file. See
        ``_zorder_column`` for the one-pass sampling + codegen
        construction. Mutually exclusive with ``sort_by``."""
        if sort_by and cluster_by:
            raise TableFormatError(
                "sort_by and cluster_by are mutually exclusive"
            )
        with self._transaction():
            declared = self.sort_order_fields
            if not sort_by and not cluster_by and declared:
                # a plain compact() on a table with a DECLARED sort
                # order applies it (Iceberg's rewrite_data_files sort
                # strategy defaults to the table sort order) —
                # maintenance must not silently destroy the declared
                # layout
                sort_fields = declared
            elif sort_by:
                # an EXPLICIT sort_by (re)declares the table sort
                # order. Parse + declare UP FRONT — before to_df, the
                # rewrite, or any other mutation — through the same
                # parser CREATE/SET use, so transforms ('month(ts)')
                # and direction ('v DESC') work PHYSICALLY (the parsed
                # fields feed _sort_columns below) and validation
                # (schema membership, transform vocabulary,
                # bucket-layout composition rules) fails free of side
                # effects. Mirroring into write.sort-order keeps the
                # property document the single source of truth (SHOW
                # CREATE, export, refresh_declared_sort_order all read
                # one place). The declaration joins this transaction:
                # a compact that declares and then fails mid-write
                # reverts it, so a later unrelated commit can't
                # persist an order the failed compact never applied.
                self.update_properties_validated(
                    updates={"write.sort-order": ", ".join(sort_by)}
                )
                sort_fields = self.sort_order_fields
            else:
                sort_fields = []
            # NOTE: when the table declares
            # write.target-file-size-bytes, the commit below is already
            # size-bounded by _write_files' maxRecordsPerFile cap — a
            # compaction that would AQE-coalesce a large live set into
            # one oversized-footer file (the measured 4x scan hazard,
            # SCALE.md round-9) splits at the target without the extra
            # shuffle an explicit target_files repartition costs.
            # target_files stays the explicit COUNT knob for
            # range-prunable layouts (sort_by/cluster_by want a real
            # range partitioning).
            # v3 row lineage through rewrites (a43, the spec's
            # `_row_id` column materialization): when every live data
            # file carries a commit-time assignment, the rewrite input
            # is lineage_df — each surviving row's _row_id /
            # _last_updated_sequence_number ride through the rewrite
            # as PHYSICAL columns in the compacted files (normal scans
            # align them away; lineage reads coalesce them over
            # positional derivation). Pre-lineage histories compact
            # exactly as before (no columns, and lineage_df keeps
            # refusing on them).
            carry_lineage = self._lineage_assignable()
            df = (
                self.lineage_df(spark)
                if carry_lineage
                else self.to_df(spark)
            )
            if cluster_by:
                zcol = "__zorder_tmp"
                df = df.withColumn(
                    zcol, _zorder_column(df, list(cluster_by))
                )
                nparts = [target_files] if target_files else []
                df = (
                    df.repartitionByRange(*nparts, zcol)
                    .sortWithinPartitions(zcol)
                    .drop(zcol)
                )
            elif sort_fields and self._spark_bucket_field() is None:
                nparts = [target_files] if target_files else []
                exprs = _sort_columns(sort_fields, self.schema)
                df = df.repartitionByRange(
                    *nparts, *exprs
                ).sortWithinPartitions(*exprs)
                # (spark-bucket tables skip this pre-shuffle: the
                # bucket writer owns the layout end-to-end —
                # repartition on the bucket-id expression +
                # sortBy(key, *order) — so a range exchange here would
                # be shuffled away again immediately)
            elif target_files:
                df = df.repartition(target_files)
            # label: compaction is logically content-preserving, which
            # is exactly Iceberg's 'replace' snapshot summary (REPLACE
            # ops emit nothing in a changelog scan; a plain 'overwrite'
            # would force changelog_between into a full adjacent-state
            # diff to prove the zero delta it can have by label).
            # Layout metadata mutates BEFORE _write so the label,
            # layout, and rewrite land in ONE commit — no crash window
            # can leave a durable 'overwrite'.
            if cluster_by:
                self.meta["clustering"] = list(cluster_by)
                self.meta.pop("sort_order", None)
                self.properties.pop("write.sort-order", None)
            return self._write(
                df,
                "replace",
                presorted=True,
                lineage_materialized=carry_lineage,
            )  # moves old live to history

    def compact_position_deletes(self, spark: SparkSession) -> "Snapshot | None":
        """Iceberg ``rewrite_position_delete_files`` analog: merge ALL
        live position-delete entries into ONE tuple file — each merged
        mask entry removed is one anti-join arm every scan no longer
        pays — WITHOUT touching data files (``compact()`` is the full
        fold; this is the cheap delete-plane maintenance between
        compactions).

        Safe by construction where merging predicate or equality masks
        would NOT be: a position tuple matches only its own (file,
        ordinal), and delete masks apply to snapshots earlier than the
        mask's sequence number — the referenced files are always
        earlier than their original delete commit, so re-committing
        the union at the LATEST sequence number can never mask a row
        the originals did not. Returns the merged snapshot, or None if
        fewer than two position entries are live."""
        pos_snaps = [s for s in self.snapshots if s.delete_pos_dir]
        if len(pos_snaps) < 2:
            return None
        merged = spark.read.parquet(
            *self._paths([f for s in pos_snaps for f in s.files])
        ).dropDuplicates(["file_path", "pos"]).sort("file_path", "pos")
        pos_rel = f"data/pos-{uuid.uuid4().hex[:16]}"
        merged.coalesce(1).write.mode("error").parquet(
            str(self.location / pos_rel)
        )
        # replaced entries move to history (time travel to a state
        # BETWEEN the originals still applies them individually); the
        # live log carries only the merged mask
        return self._commit_snapshots(
            [
                {
                    "operation": "delete",
                    "delete_pos_dir": pos_rel,
                    "files": self._collect_manifest(pos_rel),
                }
            ],
            replaces={s.snapshot_id for s in pos_snaps},
        )[0]

    def rewrite_manifests(self) -> "Snapshot | None":
        """Iceberg ``rewrite_manifests`` analog: fold the LIVE
        snapshots' commit manifests into ONE snapshot entry WITHOUT
        touching a single data file — the metadata-plane maintenance
        between compactions (``compact()`` is the data fold; this is
        the manifest fold). A 1000-append table's every scan plan,
        pruning loop, broadcast sizing, and fresh-stream base load
        walks ONE live entry afterwards instead of 1000.

        Mechanics, mirroring the spec's op: commits a metadata-only
        'replace' snapshot whose manifest is the union of the live
        manifests and whose ``source_snapshots`` records provenance;
        the replaced entries move to history (time travel to them and
        ``changes_between`` over historic ids are INVARIANT; a range
        crossing the rewrite skips it — content-preserving, Iceberg's
        incremental scans skip 'replace' the same way). Scans expand
        the entry back into the sources (``_expand_manifest_sources``)
        so schema versions, partition specs, and bucket-layout
        adoption keep their per-source behavior; ``expire_snapshots``
        keeps source dirs alive while the rewrite is retained.

        Refuses while merge-on-read delete entries are live (their
        masks are sequenced against the individual sources; fold them
        with ``compact()`` first) and no-ops (returns None) when fewer
        than two live manifest lists exist. Pure metadata commit —
        O(live manifest entries) driver-side, zero data IO."""
        live = self.snapshots
        if any(s.is_row_delete for s in live):
            raise TableFormatError(
                "rewrite_manifests requires no live merge-on-read "
                "delete entries (masks are sequenced against the "
                "individual source snapshots) — run compact() first"
            )
        if len(live) < 2:
            return None
        ids = [s.snapshot_id for s in live]
        return self._commit_snapshots(
            [
                {
                    "operation": "replace",
                    "files": [f for s in live for f in s.files],
                    "source_snapshots": ids,
                }
            ],
            replaces=ids,
        )[0]

    def add_files(self, source_dir: "str | Path") -> Snapshot:
        """Iceberg ``system.add_files`` analog: import EXISTING
        parquet files into the table as ONE append snapshot without a
        decode/rewrite — the migration surface for data produced
        outside the table format. Files are byte-copied into a fresh
        snapshot dir (divergence from Iceberg, which references files
        in place: this format's manifests are table-relative by
        design, keeping snapshots portable across table moves — the
        copy is IO-priced only, no decode, no shuffle, no executor
        involvement; commit-time stats come from the same footer read
        Iceberg's own add_files pays for its metrics).

        Validation BEFORE any copy, per footer: every column must
        exist in the table's current schema with an equal or
        promotable type (the evolution matrix — int->long,
        float->double); extra columns are refused loudly (importing
        them would silently drop data at scan time). Files missing
        nullable table columns import fine — the scan's alignment
        null-fills them like any pre-evolution snapshot. On a
        partitioned table the imported files carry no hive dirs, so
        they scan correctly but never partition-prune; on a
        bucket-layout table the imported snapshot cannot join
        exchange-free (adoption skips it per-snapshot) — both
        documented costs of importing foreign layout, warned at
        import."""
        import shutil  # noqa: PLC0415

        import pyarrow.parquet as pq  # noqa: PLC0415
        from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

        from .schema_diff import (  # noqa: PLC0415
            _PROMOTABLE,
            _types_equal,
            flatten,
        )

        src = Path(source_dir)
        files = sorted(p for p in src.rglob("*.parquet"))
        if not files:
            raise TableFormatError(
                f"add_files: no parquet files under {src}"
            )
        table_leaves = flatten(self.schema)
        for p in files:
            file_schema = from_arrow_schema(
                pq.read_schema(p), prefer_timestamp_ntz=True
            )
            file_leaves = flatten(file_schema)

            # reverse check (r13 ADVICE): a file missing a NOT NULL
            # table column would import fine and null-fill at scan
            # time — silently violating the column's nullability
            # contract. Mirror the extra-column loud refusal. A
            # required leaf whose ABSENT ancestor container is
            # nullable is a legal omit (the whole container null-fills
            # as one NULL, which never yields a non-null container
            # with a null required child — r14 review finding).
            def _omitted_nullable_ancestor(path: str) -> bool:
                parent = table_leaves[path].parent
                while parent:
                    fld = table_leaves.get(parent)
                    if fld is None:
                        # synthetic path segment (".element"/".value")
                        # — hop to the real container
                        if parent.endswith((".element", ".value")):
                            parent = parent.rsplit(".", 1)[0]
                            continue
                        return False
                    if parent not in file_leaves and not fld.required:
                        return True
                    parent = fld.parent
                return False

            for path, want in table_leaves.items():
                if (
                    want.required
                    and path not in file_leaves
                    and not _omitted_nullable_ancestor(path)
                ):
                    raise TableFormatError(
                        f"add_files: {p.name} lacks column {path!r} "
                        "which the table declares NOT NULL — the scan "
                        "would null-fill it, violating the nullability "
                        "contract (make the column nullable first, or "
                        "backfill the files)"
                    )
            for path, leaf in file_leaves.items():
                want = table_leaves.get(path)
                if want is None:
                    raise TableFormatError(
                        f"add_files: {p.name} carries column {path!r} "
                        "not in the table schema — importing would "
                        "silently drop its data (evolve the table "
                        "first, or project the files)"
                    )
                if not _types_equal(leaf.dtype, want.dtype) and (
                    leaf.dtype.typeName(),
                    want.dtype.typeName(),
                ) not in _PROMOTABLE:
                    raise TableFormatError(
                        f"add_files: {p.name} column {path!r} is "
                        f"{leaf.dtype.simpleString()}, table declares "
                        f"{want.dtype.simpleString()} — not an "
                        "evolution-matrix promotion"
                    )
        if self.partition_spec.fields:
            import warnings  # noqa: PLC0415

            warnings.warn(
                f"add_files into partitioned {self.identifier}: "
                "imported files carry no hive partition dirs — they "
                "scan correctly but never partition-prune"
                + (
                    " and cannot join exchange-free (bucket adoption "
                    "skips the imported snapshot)"
                    if self._spark_bucket_field() is not None
                    else ""
                ),
                RuntimeWarning,
                stacklevel=2,
            )
        rel = f"data/snap-{uuid.uuid4().hex[:16]}"
        dst = self.location / rel
        dst.mkdir(parents=True)
        for i, p in enumerate(files):
            shutil.copy2(p, dst / f"imported-{i:05d}-{p.name}")
        # add_files IS an append of new rows: the 'append' consumes
        # row-id space like any append (r15 review: forgetting this
        # forfeited lineage for the whole table and blamed 'rewrite
        # histories' for an import)
        return self._commit_snapshots(
            [
                {
                    "operation": "append",
                    "data_dir": rel,
                    "files": self._collect_manifest(rel),
                }
            ]
        )[0]

    # -- snapshot tags (Iceberg refs, tag type) ----------------------------

    @property
    def tags(self) -> dict[str, str]:
        """Named snapshot refs (Iceberg 'refs' of type tag): tag name
        -> snapshot id. Tags resolve in every snapshot-addressed read
        and RETAIN their snapshot against expire_snapshots."""
        return dict(self.meta.get("tags") or {})

    def _ref_pins(self) -> dict[str, list[str]]:
        """Snapshot id -> the refs that pin it: its tags and every
        staging branch whose list carries it. Iceberg refs keep their
        snapshots until the ref is dropped, so expire_snapshots retains
        these and rollback_to_snapshot refuses to remove them."""
        pins: dict[str, list[str]] = {}
        for name, sid in sorted((self.meta.get("tags") or {}).items()):
            pins.setdefault(sid, []).append(f"tag {name!r}")
        for name in self.branches:
            for s in self._branch(name)["snapshots"]:
                pins.setdefault(s["snapshot_id"], []).append(
                    f"branch {name!r}"
                )
        return pins

    def resolve_ref(self, ref: str) -> str:
        """A tag name resolves to its snapshot id; anything else
        passes through unchanged (snapshot ids win if a tag shadows
        one — tags are checked only when no snapshot has the name,
        which hex snapshot ids make unambiguous in practice)."""
        if any(s.snapshot_id == ref for s in self.all_snapshots()):
            return ref
        return (self.meta.get("tags") or {}).get(ref, ref)

    def create_tag(self, name: str, snapshot_id: "str | None" = None) -> None:
        """Tag a snapshot (default: the current one). Metadata-only
        commit; the tag pins the snapshot against expiration, exactly
        like an Iceberg tag ref. Tags and branches share ONE ref
        namespace (as in Iceberg's refs map) and 'main' is reserved."""
        if name == "main":
            raise TableFormatError("'main' is the table itself")
        if name in (self.meta.get("branches") or {}):
            raise TableFormatError(
                f"ref {name!r} already names a branch"
            )
        if name in self.tags:
            raise TableFormatError(
                f"tag {name!r} already exists (drop_tag first)"
            )
        if snapshot_id is None:
            if not self.snapshots:
                raise TableFormatError("cannot tag an empty table")
            snapshot_id = self.snapshots[-1].snapshot_id
        target = next(
            (s for s in self.all_snapshots() if s.snapshot_id == snapshot_id),
            None,
        )
        if target is None:
            raise TableFormatError(
                f"unknown snapshot {snapshot_id!r} for {self.identifier}"
            )
        if target.expired:
            raise TableFormatError(
                f"cannot tag expired snapshot {snapshot_id!r}"
            )
        with self._transaction():
            self.meta.setdefault("tags", {})[name] = snapshot_id

    def drop_tag(self, name: str) -> None:
        if name not in self.tags:
            raise TableFormatError(f"unknown tag {name!r}")
        with self._transaction():
            del self.meta["tags"][name]

    def refs_df(self, spark: SparkSession) -> DataFrame:
        """The ref inventory (Iceberg's ``db.tbl.refs`` metadata
        table): one row per tag and per staging branch (head snapshot;
        null for a branch with no snapshots yet). Metadata-sized."""
        rows = [(n, sid, "tag") for n, sid in sorted(self.tags.items())]
        for n in self.branches:
            snaps = self._branch(n)["snapshots"]
            rows.append(
                (n, snaps[-1]["snapshot_id"] if snaps else None, "branch")
            )
        return spark.createDataFrame(
            rows, "name string, snapshot_id string, type string"
        )

    def expire_snapshots(
        self,
        older_than_ms: int | None = None,
        retain_last: int = 0,
    ) -> list[str]:
        """Iceberg ``expire_snapshots`` analog: expire snapshots from
        the time-travel HISTORY (``snapshot_history`` — the tail kept
        by compaction/overwrite). The live set is never touched:
        expiration bounds how far back time travel reaches, current
        reads are unaffected. ``older_than_ms`` expires only history
        entries committed before the cutoff (None = age-blind);
        ``retain_last`` keeps the newest N non-expired history entries
        regardless. Returns the newly expired snapshot ids.

        Safe by default, mirroring Iceberg's procedure: a bare call
        (no ``older_than_ms``, no ``retain_last``) would expire the
        ENTIRE time-travel history age-blind, so it raises — callers
        must state a retention policy (an age cutoff and/or a
        retain-last count) explicitly.

        An expired id is no longer addressable: ``to_df(as_of=...)``
        and ``changes_between`` endpoints naming it raise — the
        Iceberg contract (expired means unreadable, loudly). Because
        this format is log-structured (a history snapshot's state is
        the union of its segment's ancestor dirs — Iceberg's
        self-contained manifest lists are per-snapshot, ours are not),
        an expired ancestor that a RETAINED later snapshot still needs
        stays behind as a metadata tombstone and keeps its data dir;
        dirs are physically deleted only once no retained snapshot's
        reconstruction uses them, at which point the tombstone is
        dropped too. Interior tombstones remain valid delta
        contributors for ``changes_between`` ranges with retained
        endpoints.

        Scale: metadata-plane — one metadata commit plus directory
        deletes for fully-unreferenced snapshots; data is never
        rewritten.
        """
        if older_than_ms is None and retain_last < 1:
            raise TableFormatError(
                "expire_snapshots requires a retention policy: pass "
                "older_than_ms and/or retain_last >= 1 (a bare call "
                "would silently expire the entire time-travel history)"
            )
        hist = [
            Snapshot.from_json(s)
            for s in self.meta.get("snapshot_history", [])
        ]
        hist.sort(key=lambda s: (s.sequence_number, s.timestamp_ms))
        alive = [s for s in hist if not s.expired]
        keep_tail = alive[len(alive) - retain_last:] if retain_last else []
        keep_ids = {s.snapshot_id for s in keep_tail} | set(self._ref_pins())
        expired_now = [
            s
            for s in alive
            if s.snapshot_id not in keep_ids
            and (older_than_ms is None or s.timestamp_ms < older_than_ms)
        ]
        if not expired_now:
            return []
        expired_ids = {s.snapshot_id for s in expired_now}
        # metadata first: a crash leaves orphans, not dangling
        # references (remove_orphan_files reaps them)
        with self._transaction():
            self.meta["snapshot_history"] = [
                {**s, "expired": True} if s["snapshot_id"] in expired_ids
                else s
                for s in self.meta["snapshot_history"]
            ]
            # A retained snapshot's state is the union of its segment's
            # ancestors (log-structured format) — data dirs AND predicate
            # deletes alike: compute every snapshot ID some retained
            # snapshot still needs; tombstoned ancestors inside a retained
            # lineage stay (a dropped interior predicate delete would
            # RESURRECT its deleted rows in later reads), fully-unneeded
            # ones are dropped outright and their dirs deleted.
            by_id = {s.snapshot_id: s for s in self.all_snapshots()}
            needed_ids: set[str] = set()
            for s, seg in self._segments():
                if s.expired:
                    continue
                # a manifest rewrite (rewrite_manifests) DEPENDS on its
                # source snapshots' dirs — unlike a data rewrite, it never
                # copied the bytes. Keep the whole source closure, earlier
                # folds included (a later fold resolves through their
                # entries), or the dir delete below destroys live data.
                needed_ids.update(
                    y.snapshot_id
                    for x in seg
                    for y in self._expand_manifest_sources(x, by_id)
                )
            drop = [
                s
                for s in self.meta.get("snapshot_history", [])
                if s.get("expired") and s["snapshot_id"] not in needed_ids
            ]
            drop_ids = {s["snapshot_id"] for s in drop}
            self.meta["snapshot_history"] = [
                s
                for s in self.meta.get("snapshot_history", [])
                if s["snapshot_id"] not in drop_ids
            ]
        for s in drop:
            for d in Snapshot.from_json(s).dirs:
                self.data_io.delete_recursive(str(self.location / d))
        return sorted(expired_ids)

    def remove_orphan_files(self) -> list[str]:
        """Iceberg ``remove_orphan_files`` analog: delete
        ``data/snap-*`` directories referenced by NO snapshot in the
        committed metadata (live or history) — debris from writes whose
        metadata commit never landed, or from an expire_snapshots
        interrupted between commit and delete. Committed metadata is
        the source of truth, exactly as in Iceberg: the referenced set
        comes from a fresh load of it, together with this handle's own
        entries, so a stale handle never deletes what another handle
        committed since it loaded. Run it only with no writer in flight
        (the reference's Lambda is single-writer — handler.py
        orchestration; a production deployment adds an age filter
        before deleting). Returns removed relative paths.
        """
        referenced = {
            d
            for meta in (
                self.meta,
                LakeTable.load(self.location, io=self.io).meta,
            )
            for s in meta["snapshots"]
            + meta.get("snapshot_history", [])
            # staging branches reference their unpublished dirs too
            + [
                s
                for b in (meta.get("branches") or {}).values()
                for s in b["snapshots"]
            ]
            for d in Snapshot.from_json(s).dirs
        }
        removed: list[str] = []
        data_root = self.location / "data"
        for child in self.data_io.list_subdirs(str(data_root)):
            rel = f"data/{child}"
            if rel not in referenced:
                self.data_io.delete_recursive(str(data_root / child))
                removed.append(rel)
        return sorted(removed)

    def expire_metadata_versions(self, keep_last: int = 10) -> list[str]:
        """Iceberg's ``write.metadata.previous-versions-max`` analog:
        delete old metadata version files, keeping the newest
        ``keep_last`` (by version number, then name) and ALWAYS the
        current hint target. Every commit writes a new metadata file
        and a failed catalog CAS strands an orphan one, so the
        metadata prefix grows per commit until this runs — the same
        reason Iceberg caps previous versions. Catalog
        ``previous_metadata_location`` pointers older than the window
        stop resolving, exactly as with Iceberg's setting. Returns the
        deleted filenames."""
        if keep_last < 1:
            raise TableFormatError("expire_metadata_versions: keep_last >= 1")
        meta_dir = self.location / "_meta"
        hint = self.io.read_text(
            str(meta_dir / "version-hint.text")
        ).strip()
        current = _hint_to_filename(hint)
        files = sorted(
            (
                f
                for f in self.io.list_files(str(meta_dir))
                if f.endswith(".metadata.json")
            ),
            key=lambda f: (_hint_to_version(f), f),
        )
        keep = set(files[-keep_last:]) | {current}
        deleted = []
        for f in files:
            if f not in keep:
                self.io.delete_recursive(str(meta_dir / f))
                deleted.append(f)
        return deleted

    def stream_changes(
        self,
        spark: SparkSession,
        max_files_per_trigger: int = 0,
    ) -> DataFrame:
        """Streaming incremental read (Iceberg's streaming-read analog
        — the source half of the s08 sink): each append surfaces in
        the next micro-batch, so ``table.stream_changes(spark) >>
        writeStream`` turns a lake table into a CDC feed with no
        message bus. Contract matches ``changes_between``: append-only
        ranges; a rewrite (overwrite/compaction/row-level DML) in the
        consumed range fails the stream loudly.

        Micro-batches are driven from the COMMITTED snapshot log via
        the Python Data Source API (streaming/lake_source.py): offsets
        are snapshot sequence numbers and each snapshot's files are
        its commit manifest, so uncommitted data-dir debris can never
        be streamed, rows carry ``_snapshot_id``/``_change_type`` CDC
        columns, and per-file Arrow alignment handles renamed,
        added-column AND type-promoted history. Scan parallelism is
        one executor task per data file; per-batch planning cost is
        metadata-priced (the delta's file list).
        """
        if any(s.is_row_delete for s in self.snapshots):
            raise TableFormatError(
                "live merge-on-read delete entries have no "
                "append-only streaming representation — compact() "
                "first to fold them into data"
            )
        # the reader runs in its own worker process and re-reads
        # the snapshot log each batch: it needs a RECONSTRUCTIBLE
        # handle to this table's metadata backend, serialized into
        # the data-source options (FileIO.to_options / the
        # fileio_from_options inverse). Store-backed lakes stream
        # exactly like local ones; only process-local in-memory
        # fakes cannot.
        io_opts = self.io.to_options()
        if io_opts is None:
            raise TableFormatError(
                "log-driven streaming needs a process-shareable "
                "metadata backend (FileIO.to_options returned "
                f"None for {type(self.io).__name__}; in-memory "
                "stores live only in this process) — use a "
                "DirectoryObjectStore-backed ObjectStoreFileIO or "
                "LocalFileIO"
            )
        from .streaming.lake_source import (  # noqa: PLC0415
            SOURCE_NAME,
            register_lake_stream,
        )

        register_lake_stream(spark)
        reader = spark.readStream.format(SOURCE_NAME).option(
            "path", str(self.location)
        )
        for k, v in io_opts.items():
            reader = reader.option(k, v)
        if max_files_per_trigger:
            # bound each micro-batch's file count (backfill /
            # catch-up admission control; see lake_source.py).
            # CONTRACT: combine with LIVE triggers only — under
            # Trigger.AvailableNow, Python sources fall back to
            # single-batch execution, so the cap bounds the WHOLE
            # run and the query stops after one quantum (a prefix
            # read; the checkpoint resumes next start, but a
            # one-shot run has silently truncated).
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            )
        return reader.load()

    def drain_changes(
        self,
        spark: SparkSession,
        build_writer,
        max_files_per_trigger: int = 0,
    ) -> int:
        """One-shot CAPPED catch-up over the snapshot log — the
        ``Trigger.AvailableNow`` shape the Python streaming API cannot
        express natively (VERDICT r8 item 6). Python sources fall back
        to single-batch execution under availableNow, so an admission
        cap there truncates the run to one quantum; this method gets
        the availableNow CONTRACT (start, drain everything, stop)
        with the cap honored PER BATCH by running the capped stream
        under a live trigger and blocking until the log is drained.

        ``build_writer`` maps the streaming DataFrame to a configured
        ``DataStreamWriter`` (sink + checkpoint; no trigger — the
        method owns the lifecycle). Blocks via
        ``processAllAvailable()``: each micro-batch admits at most
        ``max_files_per_trigger`` files (0 = unbounded), batches
        repeat until the reader reports no more available offsets,
        then the query stops. Restart-safe like any checkpointed
        stream: a second drain resumes where the first finished.
        Returns the number of non-empty micro-batches executed."""
        stream = self.stream_changes(
            spark, max_files_per_trigger=max_files_per_trigger
        )
        q = build_writer(stream).start()
        try:
            q.processAllAvailable()
        finally:
            q.stop()

        def _rows(p) -> int:
            v = getattr(p, "numInputRows", None)
            if v is None:  # older API surfaces progress as dicts
                v = p.get("numInputRows", 0) if hasattr(p, "get") else 0
            return int(v or 0)

        return sum(1 for p in q.recentProgress if _rows(p) > 0)

    def rollback_to_snapshot(self, snapshot_id: str) -> None:
        """Iceberg ``rollback_to_snapshot`` analog: make the table's
        CURRENT state the state as of ``snapshot_id``. Metadata-only
        for the restored state (the target's lineage segment becomes
        the live list again; no data is copied or rewritten), but
        DESTRUCTIVE for the abandoned fork: every snapshot committed
        AFTER the target is removed from the log and its data dir
        deleted. A linear snapshot log cannot represent the fork a
        kept-but-abandoned branch would need (Iceberg keeps displaced
        snapshots addressable via parent pointers until
        expire-snapshots; we document the divergence and fail loudly
        on later reads of the removed ids). A snapshot a tag or branch
        still references is never removed: the call refuses, naming
        the ref, before changing anything. Metadata commits BEFORE
        dir deletes — a crash leaves orphans for
        ``remove_orphan_files``, never dangling references.

        The target must be a non-expired snapshot whose lineage
        segment is intact — exactly the set time travel can read.
        """
        seg = self._segment_ending_at(snapshot_id)
        if seg[-1].is_row_delete:
            raise TableFormatError(
                f"snapshot {snapshot_id!r} is a merge-on-read delete "
                "entry — roll back to a data snapshot (a delete "
                "commit is half of an atomic pair, not a restore target)"
            )
        if seg[-1].expired:
            raise TableFormatError(
                f"expired snapshot {snapshot_id!r} for "
                f"{self.identifier}: removed by expire_snapshots, "
                "cannot roll back to it"
            )
        if any(x.expired for x in seg):
            raise TableFormatError(
                f"cannot roll back to {snapshot_id!r}: its lineage "
                "segment contains expired ancestors"
            )
        target_seq = seg[-1].sequence_number
        displaced = [
            s for s in self.all_snapshots() if s.sequence_number > target_seq
        ]
        pins = self._ref_pins()
        pinned = [
            f"{s.snapshot_id} ({', '.join(pins[s.snapshot_id])})"
            for s in displaced
            if s.snapshot_id in pins
        ]
        if pinned:
            raise TableFormatError(
                f"cannot roll back to {snapshot_id!r}: it would remove "
                f"snapshot(s) {'; '.join(pinned)} that a ref still "
                "references — drop the tag/branch (or fast_forward the "
                "branch) first"
            )
        live_ids = {x.snapshot_id for x in seg}
        # restored segment becomes live; earlier intact segments stay
        # in history; the abandoned fork (> target) is dropped outright
        with self._transaction():
            self.meta["snapshot_history"] = [
                s
                for s in self.meta.get("snapshot_history", [])
                if s["snapshot_id"] not in live_ids
                and Snapshot.from_json(s).sequence_number <= target_seq
            ]
            self.meta["snapshots"] = [x.to_json() for x in seg]
        for s in displaced:
            for d in s.dirs:
                self.data_io.delete_recursive(str(self.location / d))

    # -- metadata tables (Iceberg's db.tbl.snapshots / db.tbl.files) -------

    def _lineage_shadowed(self) -> "set[str]":
        """Schema columns shadowing the v3 lineage names."""
        return {f.name for f in self.schema.fields} & {
            "_row_id", "_last_updated_sequence_number",
        }

    def _lineage_assignable(self) -> bool:
        """True when row lineage can be served for the CURRENT live
        state: every live data file carries a commit-time
        ``first_row_id`` and no schema column shadows the lineage
        names (a43: the precondition ``compact`` checks before
        carrying lineage through a rewrite). Metadata-sized."""
        if self._lineage_shadowed():
            return False
        return all(
            f.get("first_row_id") is not None
            for s in self._live_state(self.snapshots)[0]
            for f in s.files
        )

    def lineage_df(
        self,
        spark: SparkSession,
        as_of_snapshot: "str | None" = None,
    ) -> DataFrame:
        """Scan with v3-style ROW LINEAGE columns (a42): ``_row_id``
        (a stable per-row id, assigned contiguously by append commits
        — ``_write`` records each data file's first-row id in the
        commit manifest and ``next_row_id`` in table metadata) and
        ``_last_updated_sequence_number`` (the committing snapshot's
        sequence number). Ids are positional within each file, so
        merge-on-read deletes never shift the survivors' ids.

        Lineage survives COMPACTION (a43, the spec's `_row_id` column
        materialization): ``compact`` on a fully-assigned table writes
        each surviving row's lineage values as physical columns in the
        rewritten files and the rewrite commit consumes a fresh
        ``first_row_id`` block (the inheritance base for null slots);
        this read coalesces the materialized values over the
        positional derivation, so survivors keep their pre-compaction
        ids.

        Since r16 EVERY commit this engine writes assigns: CoW DML
        carries ids as a43 does (a45; updates bump the sequence,
        merge inserts take null-slot fresh ids), while OVERWRITE and
        MoR-update re-appends take FRESH blocks (their rows are new
        content / new row versions — the spec's added-files rule).
        Refusal therefore survives only where it should: LEGACY
        manifests that predate assignment, and unpublished branch
        appends (ids arrive at fast_forward). Mirrors the external
        reader's posture
        (``read_iceberg_table(lineage=True)``); the v3 export emits
        these assignments as explicit avro-level ``first_row_id``
        fields and references the materialized data files in place,
        which that reader honors with the same coalesce.

        ``as_of_snapshot`` (r16) time-travels the lineage read: ids
        and sequence numbers AS OF that snapshot/tag/branch — the
        same segment walk the data scan uses, so a compaction after
        the target snapshot never changes the historical answer."""
        shadow = self._lineage_shadowed()
        if shadow:
            raise TableFormatError(
                f"schema columns {sorted(shadow)} shadow the v3 row-"
                "lineage names — rename them to read lineage"
            )
        mapping: list[tuple[str, int, int, int]] = []
        snaps = self.snapshots
        if as_of_snapshot is not None:
            # same ref resolution + segment walk as to_df, so the
            # mapping and the scan below see the SAME snapshot set
            if as_of_snapshot in (self.meta.get("branches") or {}):
                raise TableFormatError(
                    "branch lineage reads are not supported: branch "
                    "appends stage WITHOUT row-id assignments until "
                    "fast_forward publishes them"
                )
            as_of_snapshot = self.resolve_ref(as_of_snapshot)
            snaps = self._segment_ending_at(as_of_snapshot)
        for snap in self._live_state(snaps)[0]:
            for f in snap.files:
                if f.get("first_row_id") is None:
                    raise TableFormatError(
                        f"data file {f['path']!r} (snapshot "
                        f"{snap.snapshot_id}, operation "
                        f"{snap.operation!r}) has no first_row_id — "
                        "row ids are assigned by append commits (at "
                        "publish time for WAP branches); rewrite/DML/"
                        "compaction histories do not materialize "
                        "lineage. Refusing rather than inventing ids."
                    )
                mapping.append(
                    (
                        f["path"],
                        int(f["first_row_id"]),
                        int(snap.sequence_number),
                        int(f["record_count"]),
                    )
                )
        # mirror the external reader's guards (r15 advice): a path
        # listed twice (e.g. a future manifest-source expansion
        # overlap) would silently fan out rows in the join below —
        # dedupe identical assignments, refuse on conflict, and
        # assert per-file id blocks are disjoint. Metadata-sized.
        by_path: dict[str, tuple[int, int, int]] = {}
        for path, fr, seq, n in mapping:
            prev = by_path.get(path)
            if prev is not None and prev != (fr, seq, n):
                raise TableFormatError(
                    f"conflicting row-lineage assignments for "
                    f"{path!r}: {prev} vs {(fr, seq, n)} — refusing "
                    "rather than returning ambiguous _row_ids"
                )
            by_path[path] = (fr, seq, n)
        spans = sorted(
            (fr, fr + n, path) for path, (fr, _s, n) in by_path.items()
        )
        for (a0, a1, pa), (b0, _b1, pb) in zip(spans, spans[1:]):
            if b0 < a1:
                raise TableFormatError(
                    f"row-lineage id blocks overlap: {pa!r} occupies "
                    f"[{a0}, {a1}) and {pb!r} starts at {b0} — "
                    "first_row_id assignment is inconsistent; "
                    "refusing rather than returning duplicate _row_ids"
                )
        df = self.to_df(
            spark,
            as_of_snapshot=as_of_snapshot,
            _with_positions=True,
            _with_lineage_cols=True,
        )
        m = spark.createDataFrame(
            [(p, fr, seq) for p, (fr, seq, _n) in by_path.items()],
            "_pos_file string, _lin_first long, _lin_seq long",
        )
        return (
            df.join(F.broadcast(m), "_pos_file")
            .withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_mat_row_id"),
                    F.col("_lin_first") + F.col("_pos_index"),
                ),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(F.col("_mat_seq"), F.col("_lin_seq")),
            )
            .drop(
                "_lin_first", "_lin_seq", "_pos_file", "_pos_index",
                "_mat_row_id", "_mat_seq",
            )
        )

    def snapshots_df(self, spark: SparkSession) -> DataFrame:
        """The snapshot log as a queryable DataFrame (Iceberg's
        ``db.tbl.snapshots`` metadata table): live + history entries
        in commit order, with liveness and tombstone flags. Metadata-
        sized by construction — one row per snapshot."""
        live_ids = {s.snapshot_id for s in self.snapshots}
        hist = self.all_snapshots()
        rows = [
            (
                s.snapshot_id,
                s.sequence_number,
                s.timestamp_ms,
                s.operation,
                s.schema_version,
                s.spec_id,
                s.snapshot_id in live_ids,
                s.expired,
            )
            for s in hist
        ]
        return spark.createDataFrame(
            rows,
            "snapshot_id string, sequence_number long, committed_at_ms "
            "long, operation string, schema_version int, spec_id int, "
            "is_live boolean, expired boolean",
        )

    def topk_prune_threshold(self, column: str, k: int) -> "Any | None":
        """Zone-map top-k bound for ``ORDER BY column DESC LIMIT k``,
        served ENTIRELY from commit-time manifests — zero footer reads,
        zero data-plane IO (VERDICT r7 item 6, composing the a20
        manifest-stats machinery with the b21 footer-path fix,
        sources.topk_prune_threshold).

        Proof (file granularity): let t = the k-th largest per-file
        upper bound. Each of those k files contains at least one row
        equal to its own max >= t, so >= k rows satisfy ``column >= t``
        and no true top-k row can lie below t. Filtering
        ``to_df(pruning=[(column, '>=', t)])`` therefore retains every
        top-k row while the manifest prunes files whose bounds prove
        them dead. File bounds are coarser than the footer path's
        row-group bounds, so this threshold is <= the footer one
        (equal when files carry one row group) — weaker pruning, but
        decided without opening a single footer, which at object-store
        latency is the cost that matters (SCALE.md a20).

        Soundness edges, all answered conservatively with ``None``
        (caller scans unpruned): any live merge-on-read delete (a
        removed row may have BEEN the file max, breaking the >= k
        count), any file or snapshot without stats for ``column``, or
        <= k stat-bearing files (nothing to prune). Float/double
        columns stay sound end to end: parquet bounds exclude NaN, but
        Spark orders NaN above every value, so NaN rows pass the
        ``>= t`` ROW filter (they belong in a DESC top-k) and
        ``_file_may_match`` keeps every float file rather than trusting
        an upper bound a NaN row may exceed."""
        if any(s.is_row_delete for s in self.snapshots):
            return None
        maxes: list[Any] = []
        for s in self.snapshots:
            for f in s.files:
                bounds = (f.get("stats") or {}).get(column)
                if bounds is None:
                    return None  # an unaccounted file could hide top rows
                maxes.append(bounds[1])
        if len(maxes) <= k:
            return None
        maxes.sort(reverse=True)
        return maxes[k - 1]

    def files_df(self, spark: SparkSession) -> DataFrame:
        """The live data-file inventory (Iceberg's ``db.tbl.files``):
        one row per parquet file with the snapshot that wrote it, byte
        size, and footer row count. Served from the commit-time
        manifests stored in snapshot metadata (``Snapshot.files``) — a
        pure metadata read, NO data-plane listing and NO footer
        re-reads, exactly how Iceberg answers ``db.tbl.files`` from its
        Avro manifests; works unchanged on a store-backed lake. A
        manifest fold (``rewrite_manifests``) reports its source
        snapshots, so the fold changes no row.
        ``lower_bounds``/``upper_bounds`` mirror Iceberg's files-table
        columns (stringified per-column min/max from the commit-time
        stats; null where no stats were recorded)."""
        rows = []
        for s in self._live_state(self.snapshots)[0]:
            for f in s.files:
                st = f.get("stats")
                rows.append(
                    (
                        f["path"],
                        s.snapshot_id,
                        f["size_bytes"],
                        f["record_count"],
                        {c: str(b[0]) for c, b in st.items()} if st else None,
                        {c: str(b[1]) for c, b in st.items()} if st else None,
                    )
                )
        return spark.createDataFrame(
            rows,
            "file_path string, snapshot_id string, size_bytes long, "
            "record_count long, lower_bounds map<string,string>, "
            "upper_bounds map<string,string>",
        )

    def history_df(self, spark: SparkSession) -> DataFrame:
        """The table history (Iceberg's ``db.tbl.history`` metadata
        table): when each snapshot became current, its parent, and
        whether it is an ancestor of the CURRENT state. In this
        log-structured format every retained commit is on the current
        lineage (``rollback_to_snapshot`` is destructive — forks don't
        linger), so ``is_current_ancestor`` is false only for
        expire_snapshots tombstones. Metadata-sized: one row per
        commit."""
        hist = self.all_snapshots()
        rows = [
            (
                s.timestamp_ms,
                s.snapshot_id,
                hist[i - 1].snapshot_id if i > 0 else None,
                not s.expired,
            )
            for i, s in enumerate(hist)
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id string, "
            "parent_id string, is_current_ancestor boolean",
        )

    def partitions_df(self, spark: SparkSession) -> DataFrame:
        """Per-partition statistics of the LIVE data (Iceberg's
        ``db.tbl.partitions``): partition values, owning spec, file
        count, row count, byte size. Served from the commit-time
        manifests — partition values decoded from the hive-encoded
        file paths, a pure metadata read like ``files_df`` (the
        O(metadata) answer to 'which partitions are hot / skewed /
        full of small files' that drives compaction targeting at
        100 TB). Each file counts under the spec of the snapshot that
        wrote it, also across a manifest fold. Unpartitioned snapshots
        aggregate under an empty partition map."""
        agg: dict[tuple, list] = {}
        for s in self._live_state(self.snapshots)[0]:
            for f in s.files:
                # spec field names; null partition values report as
                # null, not as the hive sentinel string
                parts = tuple(_partition_values_from_path(f["path"]).items())
                slot = agg.setdefault((parts, s.spec_id), [0, 0, 0])
                slot[0] += 1
                slot[1] += f["record_count"]
                slot[2] += f["size_bytes"]
        rows = [
            (dict(parts), spec_id, fc, rc, sb)
            for (parts, spec_id), (fc, rc, sb) in sorted(agg.items())
        ]
        return spark.createDataFrame(
            rows,
            "partition map<string,string>, spec_id int, "
            "file_count long, record_count long, size_bytes long",
        )

    # -- read path ---------------------------------------------------------

    def _paths(self, files: list[dict[str, Any]]) -> list[str]:
        """The absolute, de-duplicated, sorted paths of manifest
        ``files`` — the only input of a Spark read of table data or a
        delete mask (no directory root, so nothing the manifest does not
        list is ever scanned, and a path listed twice is read once)."""
        return sorted({str(self.location / f["path"]) for f in files})

    def _apply_delete(
        self,
        spark: SparkSession,
        df: DataFrame,
        d: Snapshot,
        cur: T.StructType,
        how: str,
    ) -> DataFrame:
        """Apply one merge-on-read delete entry to ``df`` (rows aligned
        to the current schema ``cur``; position masks also need the
        ``_pos_file``/``_pos_index`` address columns). ``how`` is
        ``"left_anti"`` for a scan (drop the masked rows) or
        ``"left_semi"`` for the changelog (keep exactly the masked
        rows). A predicate filters; equality-key and position files
        join, broadcast only while the on-disk size is under
        _BROADCAST_KEYFILE_MAX_BYTES (one batch's matched
        keys/positions — usually tiny); an explicit F.broadcast() hint
        is never demoted by AQE, so an unbounded bulk-upsert key set
        falls back to AQE's own strategy choice instead of a forced
        broadcast."""
        if d.delete_predicate is not None:
            if how == "left_semi":
                return df.filter(d.delete_predicate)
            return df.filter(f"NOT ({d.delete_predicate})")
        mask = spark.read.parquet(*self._paths(d.files))
        if not d.delete_pos_dir:
            # align key types to the current schema (the key file was
            # written pre-promotion)
            mask = mask.select(
                *[
                    F.col(c).cast(cur[c].dataType).alias(c)
                    for c in d.delete_key_cols
                ]
            )
        # sized from the commit-time manifest (metadata-priced)
        nbytes = sum(f["size_bytes"] for f in d.files)
        if nbytes <= _BROADCAST_KEYFILE_MAX_BYTES:
            mask = F.broadcast(mask)
        if d.delete_pos_dir:
            return df.join(
                mask,
                (df["_pos_file"] == mask["file_path"])
                & (df["_pos_index"] == mask["pos"]),
                how,
            )
        return df.join(mask, d.delete_key_cols, how)

    def to_df(
        self,
        spark: SparkSession,
        pruning: list[tuple[str, str, Any]] | None = None,
        as_of_snapshot: str | None = None,
        as_of_timestamp_ms: int | None = None,
        branch: str | None = None,
        _with_positions: bool = False,
        _with_lineage_cols: bool = False,
    ) -> DataFrame:
        """Scan the table aligned to the current schema.

        ``pruning`` is an optional list of ``(source_col, op, literal)``
        simple predicates; each prunes manifest files (column stats and
        partition tuple) AND is applied to rows. Arbitrary
        further filtering composes on the returned DataFrame as usual.

        ``as_of_snapshot`` time-travels: scan the table as of (and
        including) that snapshot id, in commit order — Iceberg's
        snapshot-id read, over our snapshot log. ``as_of_timestamp_ms``
        is the TIMESTAMP AS OF form: the state as of the LAST readable
        snapshot committed at-or-before the instant (Iceberg's
        timestamp travel); raises if no snapshot is that old or the
        resolved snapshot is an expired tombstone.

        ``_with_positions`` (internal): append ``_pos_file`` (data-file
        path relative to the table location) and ``_pos_index`` (the
        parquet row ordinal, Spark's ``_metadata.row_index``) — the
        address vocabulary of position deletes. Used by the
        position-delete write path and the changelog.

        ``_with_lineage_cols`` (internal, a43): append ``_mat_row_id``
        / ``_mat_seq`` — the PHYSICALLY MATERIALIZED v3 row-lineage
        columns a lineage-carrying rewrite wrote into its data files
        (``_row_id`` / ``_last_updated_sequence_number``), null for
        files that don't carry them (plain appends derive
        positionally). Consumed by ``lineage_df``'s coalesce.
        """
        if as_of_timestamp_ms is not None:
            if as_of_snapshot is not None:
                raise TableFormatError(
                    "pass as_of_snapshot OR as_of_timestamp_ms, not both"
                )
            cands = [
                s
                for s in self.all_snapshots()
                if s.timestamp_ms <= as_of_timestamp_ms
            ]
            if not cands:
                raise TableFormatError(
                    f"no snapshot at or before timestamp "
                    f"{as_of_timestamp_ms} for {self.identifier}"
                )
            as_of_snapshot = cands[-1].snapshot_id
        cur = self.schema
        snaps = self.snapshots
        if branch is not None:
            if as_of_snapshot is not None or as_of_timestamp_ms is not None:
                raise TableFormatError(
                    "branch reads don't compose with time travel"
                )
            snaps = [
                Snapshot.from_json(s)
                for s in self._branch(branch)["snapshots"]
            ]
        if as_of_snapshot is not None:
            # ref-resolving read (Iceberg's VERSION AS OF semantics):
            # a branch name reads the branch's live state, a tag name
            # resolves to its snapshot, else a raw snapshot id
            if as_of_snapshot in (self.meta.get("branches") or {}):
                return self.to_df(
                    spark, pruning=pruning, branch=as_of_snapshot
                )
            as_of_snapshot = self.resolve_ref(as_of_snapshot)
            upto = self._segment_ending_at(as_of_snapshot)
            if upto[-1].expired:
                raise TableFormatError(
                    f"expired snapshot {as_of_snapshot!r} for "
                    f"{self.identifier}: removed by expire_snapshots, "
                    "no longer readable"
                )
            snaps = upto
        # merge-on-read deletes: predicate/equality-key/position
        # snapshots carry no data; each masks the rows of EARLIER data
        # snapshots at scan time (filter for predicates, anti-join for
        # key and position files)
        datas, deletes = self._live_state(snaps)
        # position masks need each row's (file, ordinal) address
        need_pos = _with_positions or any(
            d.delete_pos_dir for d in deletes
        )
        pos_fields = [
            T.StructField("_pos_file", T.StringType()),
            T.StructField("_pos_index", T.LongType()),
        ]
        lin_fields = [
            T.StructField("_mat_row_id", T.LongType()),
            T.StructField("_mat_seq", T.LongType()),
        ]
        out_schema = T.StructType(
            list(cur.fields)
            + (pos_fields if _with_positions else [])
            + (lin_fields if _with_lineage_cols else [])
        )
        parts: list[DataFrame] = []
        for s in sorted(datas, key=lambda s: (s.schema_version, s.spec_id)):
            spec = self.spec_at(s.spec_id)
            # manifest-level file pruning (Iceberg's scan planning):
            # with simple predicates and commit-time stats on record,
            # drop FILES whose [min,max] bounds or partition tuple prove
            # no row can match — before Spark ever schedules them.
            # Driver-side, O(#files-in-manifest) dict lookups; at
            # cluster scale this is the step that turns a 100 TB scan
            # into its matching partitions' files.

            def _keep(f: dict) -> bool:
                for (col, op, lit) in pruning or []:
                    if not _file_may_match(
                        f.get("stats") or {}, col, op, lit
                    ):
                        return False
                    # manifest partition tuple (Iceberg's per-file
                    # partition values): bucket hash-membership +
                    # transform-value skips
                    pv = f.get("partition") or {}
                    is_spark = f.get("layout") == "spark-bucket"
                    for fld in spec.fields:
                        if fld.source_column != col or fld.name not in pv:
                            continue
                        slf = (
                            fld
                            if is_spark and fld.base_transform == "bucket"
                            else None
                        )
                        if not _partition_value_may_match(
                            fld, pv[fld.name], op, lit, slf
                        ):
                            return False
                return True

            files = [f for f in s.files if _keep(f)]
            if not files:
                continue  # whole arm provably empty
            # one read per data entry, of exactly the files its
            # manifest lists; Catalyst folds the arms into one scan
            df = None
            if (
                len(files) == len(s.files)
                and not need_pos
                and not _with_lineage_cols
            ):
                # (lineage reads skip adoption too: the adopted
                # catalog schema is the TABLE schema, which would hide
                # physically materialized lineage columns and silently
                # fall back to positional ids — a plain parquet read
                # sees them)
                # Spark-bucket-layout snapshots scan through a catalog
                # adoption so Catalyst SEES the bucket co-location:
                # joins on the bucket key schedule with no exchange,
                # and key-equality filters get Spark's own (sound: same
                # hash) bucket pruning. The file read is value-
                # identical — bucket files are ordinary parquet.
                df = self._adopt_bucketed_scan(spark, s)
            if df is None:
                df = spark.read.parquet(*self._paths(files))
            if need_pos:
                # capture each row's (relative file, ordinal)
                # address BEFORE alignment drops metadata access.
                # The relative path comes from an EXPLICIT prefix
                # match against the location (as-declared and
                # fs-resolved, covering symlinked locations); a
                # file outside both prefixes fails LOUDLY instead
                # of silently minting addresses no delete file can
                # ever match.
                cands: list[str] = []
                for c in (
                    str(self.location),
                    str(Path(self.location).resolve()),
                ):
                    if c not in cands:
                        cands.append(c)
                norm = (
                    "regexp_replace(_metadata.file_path, "
                    "'^file:/+', '/')"
                )
                arms = " ".join(
                    "WHEN startswith({n}, '{p}/') "
                    "THEN substring({n}, {off})".format(
                        n=norm,
                        p=c.replace("'", "\\'"),
                        off=len(c) + 2,
                    )
                    for c in cands
                )
                df = df.select(
                    "*",
                    F.expr(
                        f"CASE {arms} ELSE raise_error(concat("
                        "'data file outside table location: ', "
                        f"{norm})) END"
                    ).alias("_pos_file"),
                    F.col("_metadata.row_index").alias("_pos_index"),
                )
            if _with_lineage_cols:
                # physically materialized lineage (a43): a
                # lineage-carrying rewrite wrote _row_id /
                # _last_updated_sequence_number into its data
                # files; surface them (nulls when this file
                # predates materialization — positional fallback)
                for src, dst in (
                    ("_row_id", "_mat_row_id"),
                    ("_last_updated_sequence_number", "_mat_seq"),
                ):
                    df = df.withColumn(
                        dst,
                        F.col(src).cast("long")
                        if src in df.columns
                        else F.lit(None).cast("long"),
                    )
            df = self._as_current(
                df,
                s,
                keep=(
                    (["_pos_file", "_pos_index"] if need_pos else [])
                    + (
                        ["_mat_row_id", "_mat_seq"]
                        if _with_lineage_cols
                        else []
                    )
                )
                or None,
            )
            # masks from LATER delete snapshots apply to this
            # snapshot's rows (post-alignment: predicates and key
            # columns are named in current-schema terms); appends
            # after a delete are untouched — standard SQL DELETE
            # visibility.
            for d in deletes:
                if d.sequence_number > s.sequence_number:
                    df = self._apply_delete(
                        spark, df, d, cur, "left_anti"
                    )
            if need_pos and not _with_positions:
                df = df.drop("_pos_file", "_pos_index")
            parts.append(df)
        if not parts:
            # no data entry, or every arm pruned away by the manifest
            return spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # row-level application of the pruning predicates (manifest
        # pruning is only a necessary condition at file granularity)
        for (col, op, lit) in pruning or []:
            if op == "in":
                out = out.filter(F.col(col).isin(list(lit)))
            else:
                out = out.filter(
                    f"{col} {'=' if op == '==' else op} '{lit}'"
                )
        return out

    def _adopt_bucketed_scan(
        self, spark: SparkSession, snap: Snapshot
    ) -> "DataFrame | None":
        """Re-declare a Spark-bucket-layout snapshot dir as an EXTERNAL
        catalog bucketed table (same adoption pattern as
        sources.bucketed_table) and return its scan — the step that
        makes the lake's bucket[N] layout visible to Catalyst's
        exchange planning. Returns None (caller falls back to a plain
        parquet read) unless the snapshot was verifiably written by the
        Spark bucket layout: single-bucket-field spec and EVERY data
        file carrying the Spark bucket-id name pattern."""
        sbf = self._spark_bucket_field()
        if sbf is None or not snap.files:
            return None
        spec = self.spec_at(snap.spec_id)
        if len(spec.fields) != 1 or spec.fields[0].name != sbf.name:
            return None
        layouts = {f.get("layout") for f in snap.files}
        if layouts == {"spark-bucket"}:
            dual = False
        elif layouts == {"dual-bucket"}:
            dual = True
        else:
            return None  # mixed or unmarked: structured not-eligible
        if not all(
            _SPARK_BUCKET_FILE_RE.search(f["path"]) for f in snap.files
        ):
            return None
        # the adopted table is rooted at the snapshot dir and scans
        # every data file there, so adopt only when the manifest lists
        # them all (Spark skips names starting with "_" or ".")
        listed = {f["path"] for f in snap.files}
        if any(
            f"{snap.data_dir}/{rel}" not in listed
            for rel in self.data_io.list_files(
                str(self.location / snap.data_dir)
            )
            if not rel.rsplit("/", 1)[-1].startswith(("_", "."))
        ):
            return None
        fs = self.schema_at(snap.schema_version)
        if sbf.source_column not in fs.fieldNames():
            return None
        import hashlib  # noqa: PLC0415

        key = hashlib.md5(
            f"{self.location}|{snap.snapshot_id}".encode()
        ).hexdigest()[:16]
        name = f"lake_adopt_{key}"
        # SORTED BY must claim exactly what the writer sorted: every
        # file of this snapshot records its sortBy columns (sorted_by,
        # _collect_manifest) when a sort order was declared at write
        # time. A uniform recorded claim adopts verbatim — the catalog
        # metadata then lets Catalyst elide sorts whose required
        # ordering is a prefix of (key, *order). Pre-declaration
        # snapshots (no claim) adopt with the key-only sort; mixed
        # claims fall back to the key (never over-claim — a false
        # SORTED BY would let the planner skip a sort the files don't
        # satisfy, a wrong-results class of bug).
        claims = {tuple(f.get("sorted_by") or ()) for f in snap.files}
        if len(claims) == 1 and next(iter(claims)):
            sorted_cols = list(next(iter(claims)))
        else:
            sorted_cols = [sbf.source_column]
        sorted_by_sql = ", ".join(f"`{c}`" for c in sorted_cols)
        try:
            if not spark.catalog.tableExists(name):
                cols = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in fs.fields
                )
                if dual:
                    # dual layout: the hive dir level carries the
                    # SPEC's murmur3 value — declare it as a catalog
                    # partition column (recovered from the dirs) so
                    # the scan sees BOTH partition pruning and bucket
                    # co-location; the caller's hidden-column rewrite
                    # can keep pruning on it like any a28 table
                    pcol = sbf.partition_column
                    spark.sql(
                        f"CREATE TABLE `{name}` ({cols}, `{pcol}` int) "
                        f"USING parquet PARTITIONED BY (`{pcol}`) "
                        f"CLUSTERED BY (`{sbf.source_column}`) "
                        f"SORTED BY ({sorted_by_sql}) "
                        f"INTO {sbf.param} BUCKETS "
                        f"LOCATION '{self.location / snap.data_dir}'"
                    )
                    # partition registration from the MANIFEST, not a
                    # filesystem walk: MSCK REPAIR relists every dir
                    # and file under the location on each fresh
                    # session — at object-store latency that listing
                    # is the dominant cold-planning cost (measured
                    # 2.4-6 s/table at the sf100 dual fixture, 10,240
                    # files). The manifest already knows every hive
                    # dir; one ADD PARTITION statement registers the
                    # <=N bucket dirs with zero data-plane IO. Falls
                    # back to MSCK only if a path doesn't carry the
                    # expected single integer-valued hive component.
                    part_dirs: "dict[str, str] | None" = {}
                    for fent in snap.files:
                        comps = fent["path"].split("/")[:-1]
                        hive = [
                            c for c in comps
                            if c.startswith(pcol + "=")
                        ]
                        v = (
                            hive[0].split("=", 1)[1] if len(hive) == 1
                            else ""
                        )
                        if not (v.lstrip("-").isdigit()):
                            part_dirs = None
                            break
                        part_dirs[v] = str(
                            self.location / "/".join(comps)
                        )
                    if part_dirs:
                        clauses = " ".join(
                            f"PARTITION (`{pcol}`={v}) LOCATION '{d}'"
                            for v, d in sorted(part_dirs.items())
                        )
                        spark.sql(
                            f"ALTER TABLE `{name}` ADD IF NOT EXISTS "
                            f"{clauses}"
                        )
                    else:
                        spark.sql(f"MSCK REPAIR TABLE `{name}`")
                else:
                    spark.sql(
                        f"CREATE TABLE `{name}` ({cols}) USING parquet "
                        f"CLUSTERED BY (`{sbf.source_column}`) "
                        f"SORTED BY ({sorted_by_sql}) "
                        f"INTO {sbf.param} BUCKETS "
                        f"LOCATION '{self.location / snap.data_dir}'"
                    )
            return spark.table(name)
        except Exception as e:  # noqa: BLE001 — adoption is an optimization
            import warnings  # noqa: PLC0415

            # LOUD fallback, same reason as sources.bucketed_table: a
            # silent adoption failure serves identical VALUES through a
            # plan that re-exchanges — the r9 reload bug hid behind
            # exactly this kind of quiet degradation.
            warnings.warn(
                f"bucket-layout adoption failed for {self.identifier} "
                f"snapshot {snap.snapshot_id} ({e!r}); plain scan — "
                "joins on the bucket key will re-exchange",
                RuntimeWarning,
                stacklevel=2,
            )
            return None

    def _resolve_snapshot_range(
        self,
        from_snapshot: str | None,
        to_snapshot: str | None,
    ) -> tuple[list[Snapshot], int, int]:
        """Resolve a (from, to] incremental-read range over the full
        commit log: refs resolve (tags/branches), unknown or expired
        endpoints raise, and ``lo``/``hi`` index into the returned
        canonical history. ``changelog_between`` (full CDC) reads the
        range it resolves; ``changes_between`` resolves it only to
        refuse non-append entries, then reads through
        ``changelog_between``."""
        hist = self.all_snapshots()
        ids = [s.snapshot_id for s in hist]

        def _index(sid: str | None, default: int, what: str) -> int:
            if sid is None:
                return default
            if sid not in ids:
                raise TableFormatError(
                    f"unknown {what} snapshot {sid!r} for {self.identifier}"
                )
            i = ids.index(sid)
            if hist[i].expired:
                raise TableFormatError(
                    f"expired {what} snapshot {sid!r} for {self.identifier}: "
                    "removed by expire_snapshots, not addressable"
                )
            return i

        lo = _index(
            self.resolve_ref(from_snapshot) if from_snapshot else None,
            -1, "from",
        )
        hi = _index(
            self.resolve_ref(to_snapshot) if to_snapshot else None,
            len(hist) - 1, "to",
        )
        if hi < lo:
            raise TableFormatError(
                f"to_snapshot {to_snapshot!r} precedes "
                f"from_snapshot {from_snapshot!r}"
            )
        return hist, lo, hi

    def changes_between(
        self,
        spark: SparkSession,
        from_snapshot: str | None = None,
        to_snapshot: str | None = None,
    ) -> DataFrame:
        """Incremental append scan (Iceberg's ``appendsBetween`` /
        Spark's ``start-snapshot-id``/``end-snapshot-id`` read options):
        rows committed strictly AFTER ``from_snapshot`` up to AND
        INCLUDING ``to_snapshot``, aligned to the current schema and
        tagged with ``_snapshot_id`` and ``_change_type`` ('insert')
        metadata columns — the CDC shape downstream incremental
        pipelines consume. Defaults span table-begin to current.

        Only append snapshots have a row-level insert delta; a range
        crossing an overwrite-family snapshot (``overwrite()``,
        ``compact()``, row-level DELETE/UPDATE/MERGE rewrites) raises
        ``TableFormatError`` — the same contract as Iceberg's
        incremental append scan. Snapshots expired from the live list
        by compaction remain servable from ``snapshot_history`` as long
        as both endpoints predate the overwrite.

        Scale: the scan reads ONLY the range's snapshot directories —
        incremental cost is proportional to the delta, never to table
        size (the point of CDC at 100 TB).
        """
        hist, lo, hi = self._resolve_snapshot_range(
            from_snapshot, to_snapshot
        )
        rng = hist[lo + 1: hi + 1]
        # manifest rewrites (rewrite_manifests) are content-preserving
        # metadata commits: they contribute no row delta and must not
        # poison open-ended incremental consumers — Iceberg's
        # incremental scans skip 'replace' snapshots the same way. The
        # sources remain real append entries in the range (history),
        # so the delta is emitted exactly once.
        rng = [s for s in rng if not s.source_snapshots]
        bad = [s.snapshot_id for s in rng if s.operation != "append"]
        if bad:
            raise TableFormatError(
                "incremental read range crosses non-append snapshot(s) "
                f"{bad} (operation rewrites the live set; no append-only "
                "row delta exists) — read a full snapshot instead"
            )
        # an append-only range is exactly what the changelog emits as
        # inserts (it skips the 'replace' folds by label)
        return self.changelog_between(
            spark, from_snapshot, to_snapshot
        ).drop("_change_ordinal")

    def changelog_between(
        self,
        spark: SparkSession,
        from_snapshot: str | None = None,
        to_snapshot: str | None = None,
    ) -> DataFrame:
        """Full CDC changelog (Iceberg's ``create_changelog_view`` /
        Delta's change-data-feed analog): every row-level change
        committed strictly AFTER ``from_snapshot`` up to AND INCLUDING
        ``to_snapshot``, aligned to the current schema and tagged with
        ``_change_ordinal`` (position of the emitting commit within the
        requested range — Iceberg's ``_change_ordinal``),
        ``_snapshot_id`` and ``_change_type`` ('insert' | 'delete').
        Updates surface as delete(old) + insert(new) pairs, the default
        changelog shape when no identifier columns are configured.

        Unlike ``changes_between`` (the cheap append-only contract,
        which refuses rewrite-crossing ranges), every snapshot kind is
        servable. Per-commit emission and cost:

        - ``append`` — inserts from the commit's manifest files. Cost
          proportional to the delta (never to table size).
        - merge-on-read predicate DELETE — deletes = the pre-state
          filtered by the stored predicate: exactly the complement of
          the ``NOT (pred)`` mask every scan applies. Cost: one
          pre-state scan.
        - merge-on-read equality-delete (MERGE) — deletes = pre-state
          semi-joined against the commit's key file (key columns cast
          to the current schema like the scan-time anti-join); the
          paired re-append commit then emits the post-image inserts.
        - ``replace`` (compaction / clustering rewrites) — emits
          NOTHING, by label, without scanning: the operation is
          logically content-preserving (Iceberg's 'replace' summary).
        - other rewrites (``overwrite`` and copy-on-write
          DELETE/UPDATE/MERGE) — a multiset diff of the two adjacent
          states: deletes = pre ``EXCEPT ALL`` post, inserts = post
          ``EXCEPT ALL`` pre. This nets carry-over rows (rows the
          rewrite copied untouched emit nothing) at the price Iceberg's
          changelog pays for the same guarantee: both states are read.

        Replay invariant (property-tested): state(from) minus emitted
        deletes plus emitted inserts == state(to) as multisets, applied
        in ordinal order.

        Raises if the range needs the pre-state of a commit whose
        predecessor was expired (`expire_snapshots`) — the deleted
        row images are no longer reconstructible, same contract as
        time travel to the tombstone itself.
        """
        hist, lo, hi = self._resolve_snapshot_range(
            from_snapshot, to_snapshot
        )
        cur = self.schema
        tagged = T.StructType(
            list(cur.fields)
            + [
                T.StructField("_change_ordinal", T.IntegerType()),
                T.StructField("_snapshot_id", T.StringType()),
                T.StructField("_change_type", T.StringType()),
            ]
        )

        def _tag(df: DataFrame, ordinal: int, sid: str, ct: str) -> DataFrame:
            return (
                df.withColumn("_change_ordinal", F.lit(ordinal))
                .withColumn("_snapshot_id", F.lit(sid))
                .withColumn("_change_type", F.lit(ct))
            )

        def _pre_state(i: int, with_positions: bool = False) -> DataFrame:
            """State as of the commit BEFORE hist[i] (empty for the
            first commit). Composes masks/segments exactly like any
            time-travel read."""
            if i == 0:
                # the empty frame must carry the SAME shape a real
                # pre-state read would — including the position-address
                # fields when requested — so a position-delete entry as
                # the first resolvable commit semi-joins cleanly
                # instead of dying on an unresolved column
                shape = (
                    T.StructType(
                        list(cur.fields)
                        + [
                            T.StructField("_pos_file", T.StringType()),
                            T.StructField("_pos_index", T.LongType()),
                        ]
                    )
                    if with_positions
                    else cur
                )
                return spark.createDataFrame([], shape)
            prev = hist[i - 1]
            if prev.expired:
                raise TableFormatError(
                    f"changelog needs the pre-state of snapshot "
                    f"{hist[i].snapshot_id!r}, but its predecessor "
                    f"{prev.snapshot_id!r} was expired by "
                    "expire_snapshots — deleted row images are not "
                    "reconstructible for this range"
                )
            return self.to_df(
                spark,
                as_of_snapshot=prev.snapshot_id,
                _with_positions=with_positions,
            )

        parts: list[DataFrame] = []
        for ordinal, i in enumerate(range(lo + 1, hi + 1)):
            s = hist[i]
            if s.operation == "append":
                if s.files:
                    df = spark.read.parquet(*self._paths(s.files))
                    parts.append(
                        _tag(self._as_current(df, s), ordinal,
                             s.snapshot_id, "insert")
                    )
            elif s.is_row_delete:
                # the pre-state rows the entry masks: semi-join instead
                # of the scan's anti-join; position deletes need each
                # row's (file, ordinal) address — delta-priced,
                # replayable row-for-row
                by_pos = bool(s.delete_pos_dir)
                deleted = self._apply_delete(
                    spark, _pre_state(i, with_positions=by_pos), s, cur,
                    "left_semi",
                )
                if by_pos:
                    deleted = deleted.drop("_pos_file", "_pos_index")
                parts.append(
                    _tag(deleted, ordinal, s.snapshot_id, "delete")
                )
            elif s.operation == "replace":
                continue  # content-preserving rewrite: no changes
            else:
                # overwrite / copy-on-write DML: adjacent-state diff
                pre = _pre_state(i)
                post = self.to_df(spark, as_of_snapshot=s.snapshot_id)
                parts.append(
                    _tag(pre.exceptAll(post), ordinal, s.snapshot_id,
                         "delete")
                )
                parts.append(
                    _tag(post.exceptAll(pre), ordinal, s.snapshot_id,
                         "insert")
                )
        if not parts:
            return spark.createDataFrame([], tagged)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def apply_changelog(
        self,
        spark: SparkSession,
        changelog: DataFrame,
        key_cols: list[str] | None = None,
    ) -> Snapshot | None:
        """Apply a CDC changelog (the ``changelog_between`` shape:
        data columns + ``_change_ordinal``/``_snapshot_id``/
        ``_change_type``) to THIS table — the consumer half of the CDC
        round-trip (Delta's APPLY CHANGES INTO / the Iceberg
        changelog-consumption pattern). Feeding table A's changelog to
        replica B keeps B's state equal to A's (multiset semantics),
        one sync per consumed range.

        ``key_cols=None`` (copy-on-write): the replayed state
        ``current ∪ inserts EXCEPT ALL deletes`` is committed as one
        overwrite snapshot. Always correct; write cost proportional to
        the replica, the right trade for small tables or rare syncs.

        ``key_cols`` given (merge-on-read, **O(delta) sync** — the
        production replication shape): the delete images' keys commit
        as ONE equality-delete entry and each key's LATEST insert
        image — latest ``_change_ordinal``, the insert post-image
        winning inside a delete+insert pair — appends after it,
        mirroring the MERGE commit pair. Latest-image-per-key is the
        resolution Delta's APPLY CHANGES applies, and unlike a naive
        ``inserts EXCEPT ALL deletes`` it survives a row rewritten to
        an identical image (whose delete+insert pair would otherwise
        cancel while the key mask still removed the replica's row).
        Nothing in the replica is read or rewritten. REQUIRES
        ``key_cols`` to be a unique key of the source table: the key
        mask removes every replica row sharing a deleted key, which
        matches source semantics only when a key identifies one row
        (the same contract Delta's APPLY CHANGES puts on its KEYS
        clause).

        Returns the committed snapshot, or None for an empty
        changelog. Syncs are idempotent only per-range — apply each
        changelog range exactly once, in order (track the consumed
        ``to_snapshot`` like any CDC consumer).
        """
        cdc_cols = ["_change_ordinal", "_snapshot_id", "_change_type"]
        missing = [c for c in cdc_cols if c not in changelog.columns]
        if missing:
            raise TableFormatError(
                f"not a changelog frame: missing {missing} "
                "(expected the changelog_between column shape)"
            )
        names = [f.name for f in self.schema.fields]
        absent = [c for c in names if c not in changelog.columns]
        if absent:
            raise TableFormatError(
                f"changelog lacks data column(s) {absent} of "
                f"{self.identifier}"
            )
        ins = changelog.filter(
            F.col("_change_type") == "insert"
        ).select(*names)
        dels = changelog.filter(
            F.col("_change_type") == "delete"
        ).select(*names)
        if key_cols is None:
            # multiset fold: per-ordinal order is immaterial because
            # every delete image is present in its commit's pre-state
            new_live = self.to_df(spark).unionByName(ins).exceptAll(dels)
            return self._write(new_live, "overwrite")
        bad_keys = [k for k in key_cols if k not in names]
        if bad_keys:
            raise TableFormatError(
                f"key column(s) {bad_keys} not in {self.identifier}"
            )
        # latest image per key: one O(delta) key-partitioned window
        # (ordinal desc, the insert post-image outranking the delete
        # pre-image inside one commit's pair); the winner appends iff
        # it is an insert
        from pyspark.sql.window import Window  # noqa: PLC0415

        w = Window.partitionBy(*key_cols).orderBy(
            F.col("_change_ordinal").desc(),
            F.when(F.col("_change_type") == "insert", 1)
            .otherwise(0)
            .desc(),
        )
        ins_net = (
            changelog.withColumn("__rn", F.row_number().over(w))
            .filter(
                (F.col("__rn") == 1)
                & (F.col("_change_type") == "insert")
            )
            .select(*names)
        )
        keys_rel = f"data/keys-{uuid.uuid4().hex[:16]}"
        dels.select(*key_cols).distinct().write.mode("error").parquet(
            str(self.location / keys_rel)
        )
        return self._commit_key_delete(
            keys_rel, self._collect_manifest(keys_rel), key_cols, ins_net
        )


def scd2_history(changelog: DataFrame, key_cols: list[str]) -> DataFrame:
    """Slowly-changing-dimension Type 2 history from a CDC changelog
    (the ``changelog_between`` shape): one row per version interval —
    the data columns of the insert image that OPENED the interval,
    plus ``valid_from`` (its ``_change_ordinal``), ``valid_to`` (the
    ordinal of the delete that closed it; NULL while open) and
    ``is_current``. The standard warehouse dimension-history build,
    derived purely from the feed — no table read.

    Mechanics: per key, events sorted by (ordinal, type) — 'delete' <
    'insert' lexicographically, which is exactly the intra-ordinal
    order a copy-on-write rewrite needs (the delete closes the old
    image before the insert opens the new one). With ``key_cols`` a
    unique key of the source (same contract as ``apply_changelog``),
    events per key strictly alternate insert/delete, so each insert's
    closing delete is simply the NEXT event — one ``lead()`` window,
    one shuffle on the key, O(changelog) at any scale.

    Build the full history with ``changelog_between()`` from table
    begin; an incremental range appends new intervals whose
    ``valid_from`` ordinals are range-relative (offset by the consumed
    ranges' commit counts if a global ordinal is needed).
    """
    cdc_cols = ["_change_ordinal", "_snapshot_id", "_change_type"]
    missing = [c for c in cdc_cols if c not in changelog.columns]
    if missing:
        raise TableFormatError(
            f"not a changelog frame: missing {missing} "
            "(expected the changelog_between column shape)"
        )
    from pyspark.sql.window import Window  # noqa: PLC0415

    data_cols = [c for c in changelog.columns if c not in cdc_cols]
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_change_ordinal").asc(), F.col("_change_type").asc()
    )
    return (
        changelog.withColumn(
            "__next_ordinal", F.lead("_change_ordinal").over(w)
        )
        .filter(F.col("_change_type") == "insert")
        .select(
            *data_cols,
            F.col("_change_ordinal").alias("valid_from"),
            F.col("__next_ordinal").alias("valid_to"),
            F.col("__next_ordinal").isNull().alias("is_current"),
        )
    )


def scd2_apply(
    history: DataFrame,
    changelog: DataFrame,
    key_cols: list[str],
    ordinal_offset: int,
) -> DataFrame:
    """Incremental SCD2 maintenance: merge a NEW changelog range into
    an existing ``scd2_history`` table without rebuilding from table
    begin — the nightly-dimension-refresh shape. ``ordinal_offset``
    maps the range's relative ordinals onto the history's global
    timeline (pass the number of commits already consumed; it must
    exceed every open interval's ``valid_from``).

    Mechanics: CLOSED intervals pass through untouched (history is
    immutable once closed); each OPEN interval re-enters the event
    stream as a synthetic insert at its own ``valid_from``, unions
    with the offset new events, and the same one-window
    latest/next-event fold recomputes the affected keys' intervals —
    an open interval either survives (no new events for its key) or
    closes at exactly the first new delete. Incremental cost is
    O(open-history + new-changelog), never O(full history).

    Idempotent per range like ``apply_changelog``: apply each consumed
    range once, in order. Equality with the from-scratch rebuild is
    property-tested (same frame, ordinal-for-ordinal).
    """
    for c in ("valid_from", "valid_to", "is_current"):
        if c not in history.columns:
            raise TableFormatError(
                f"not an SCD2 history frame: missing {c!r}"
            )
    cdc_cols = ["_change_ordinal", "_snapshot_id", "_change_type"]
    missing = [c for c in cdc_cols if c not in changelog.columns]
    if missing:
        raise TableFormatError(
            f"not a changelog frame: missing {missing} "
            "(expected the changelog_between column shape)"
        )
    from pyspark.sql.window import Window  # noqa: PLC0415

    data_cols = [
        c
        for c in history.columns
        if c not in ("valid_from", "valid_to", "is_current")
    ]
    closed = history.filter(~F.col("is_current"))
    open_events = history.filter(F.col("is_current")).select(
        *data_cols,
        F.col("valid_from").alias("_change_ordinal"),
        F.lit("(open)").alias("_snapshot_id"),
        F.lit("insert").alias("_change_type"),
    )
    new_events = changelog.select(
        *data_cols,
        (F.col("_change_ordinal") + F.lit(ordinal_offset)).alias(
            "_change_ordinal"
        ),
        "_snapshot_id",
        "_change_type",
    )
    events = open_events.unionByName(new_events)
    w = Window.partitionBy(*key_cols).orderBy(
        F.col("_change_ordinal").asc(), F.col("_change_type").asc()
    )
    recomputed = (
        events.withColumn(
            "__next_ordinal", F.lead("_change_ordinal").over(w)
        )
        .filter(F.col("_change_type") == "insert")
        .select(
            *data_cols,
            F.col("_change_ordinal").alias("valid_from"),
            F.col("__next_ordinal").alias("valid_to"),
            F.col("__next_ordinal").isNull().alias("is_current"),
        )
    )
    return closed.select(recomputed.columns).unionByName(recomputed)


# ---------------------------------------------------------------------------
# Schema alignment: reconcile a file-schema DataFrame to the current schema
# ---------------------------------------------------------------------------


def _align_df(
    df: DataFrame,
    target: T.StructType,
    keep: "list[str] | None" = None,
) -> DataFrame:
    """Project ``df`` onto ``target``'s fields (promoting/nulling as
    needed); ``keep`` names extra passthrough columns appended as-is
    (row positions, lineage). THE projection onto a schema: writes,
    scans and the export's reads all go through it."""
    have = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            cols.append(
                _align_expr(F.col(f.name), have[f.name], f.dataType).alias(
                    f.name
                )
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    for k in keep or []:
        cols.append(F.col(k))
    return df.select(*cols)


def _align_expr(col: Column, have: T.DataType, want: T.DataType) -> Column:
    """Recursively adapt ``col`` of type ``have`` to type ``want``:
    struct fields matched by name (missing -> null), arrays via
    ``transform``, primitives via cast. Pure Catalyst — whole-stage
    codegen applies; no Python per-row work."""
    if have == want:
        return col
    if isinstance(want, T.StructType) and isinstance(have, T.StructType):
        have_fields = {f.name: f for f in have.fields}
        children = []
        for wf in want.fields:
            hf = have_fields.get(wf.name)
            if hf is None:
                children.append(F.lit(None).cast(wf.dataType).alias(wf.name))
            else:
                children.append(
                    _align_expr(col.getField(wf.name), hf.dataType, wf.dataType).alias(
                        wf.name
                    )
                )
        rebuilt = F.struct(*children)
        # preserve null structs (struct() would fabricate a non-null row)
        return F.when(col.isNull(), F.lit(None).cast(want)).otherwise(rebuilt)
    if isinstance(want, T.ArrayType) and isinstance(have, T.ArrayType):
        if isinstance(want.elementType, T.StructType) and isinstance(
            have.elementType, T.StructType
        ):
            return F.transform(
                col, lambda x: _align_struct_value(x, have.elementType, want.elementType)
            )
        return col.cast(want)
    if isinstance(want, T.MapType) and isinstance(have, T.MapType):
        return col.cast(want)
    return col.cast(want)


def _align_struct_value(
    value: Column, have: T.StructType, want: T.StructType
) -> Column:
    have_fields = {f.name: f for f in have.fields}
    children = []
    for wf in want.fields:
        hf = have_fields.get(wf.name)
        if hf is None:
            children.append(F.lit(None).cast(wf.dataType).alias(wf.name))
        else:
            children.append(
                _align_expr(value.getField(wf.name), hf.dataType, wf.dataType).alias(
                    wf.name
                )
            )
    return F.struct(*children)
