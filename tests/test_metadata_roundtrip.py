"""Structural guard for the metadata JSON round-trip (the r9 bug
class): two live defects — manifest entries losing their partition
tuples + layout markers, and the rename log vanishing entirely — both
came from the same root cause: the to-spec/from-spec translators
enumerate fields BY HAND, so an in-memory field the translator author
forgot simply evaporates on the first reload while every same-handle
test keeps passing.

The guard is a FULLY-POPULATED round-trip identity check, pinned to
the Snapshot dataclass: adding a field to Snapshot fails this test
until the fixture (and therefore the serializer) carries it, and any
translator that drops a populated field fails the equality."""

from __future__ import annotations

import dataclasses
import json
from pathlib import Path

from pyspark.sql import types as T

from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    LakeTable,
    Snapshot,
    _meta_from_spec,
    _meta_to_spec,
    _snap_from_spec,
    _snap_to_spec,
)

# every Snapshot field populated with a non-default value
FULL_SNAPSHOT = {
    "snapshot_id": "abc123",
    "timestamp_ms": 1700000000000,
    "operation": "overwrite",
    "schema_version": 3,
    "spec_id": 2,
    "data_dir": "data/snap-abc123",
    "sequence_number": 7,
    "expired": True,
    "delete_predicate": "k > 5",
    "delete_keys_dir": "keys/snap-abc123",
    "delete_key_cols": ["k", "v"],
    "delete_pos_dir": "pos/snap-abc123",
    # rewrite_manifests provenance (r13): the source snapshots a
    # manifest-rewrite entry expands into at scan time
    "source_snapshots": ["aaa111", "bbb222"],
    "files": [
        {
            "path": "data/snap-abc123/part-00001_00001.c000.parquet",
            "size_bytes": 1234,
            "record_count": 56,
            "stats": {"k": [0, 99], "name": ["a", "z"]},
            "partition": {"k_bucket": 1, "day_col": "2024-01-02"},
            "layout": "spark-bucket",
            "spark_bucket": 1,
            "first_row_id": 40,
            "sorted_by": ["k", "name"],
        },
        # minimal entry: optional per-file fields absent
        {
            "path": "data/snap-abc123/part-00002.parquet",
            "size_bytes": 99,
            "record_count": 1,
        },
    ],
}


def test_snapshot_fixture_covers_every_dataclass_field():
    """A NEW Snapshot field must be added here (and to the spec
    translators) before it ships — that is the point of this test."""
    declared = {f.name for f in dataclasses.fields(Snapshot)}
    assert declared == set(FULL_SNAPSHOT), (
        "Snapshot fields changed: update FULL_SNAPSHOT and check "
        "_snap_to_spec/_snap_from_spec carry the new field"
    )


def test_snapshot_spec_roundtrip_is_identity():
    assert _snap_from_spec(_snap_to_spec(dict(FULL_SNAPSHOT))) == FULL_SNAPSHOT


def test_meta_spec_roundtrip_preserves_every_populated_field():
    schema_json = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )
    meta = {
        "format_version": 2,
        "table_uuid": "uuid-1",
        "identifier": "db.tbl",
        "location": "/wh/db/tbl",
        "last_sequence_number": 7,
        "current_schema_version": 2,
        "schemas": {"1": schema_json, "2": schema_json},
        "current_spec_id": 1,
        "specs": {
            "0": [],
            "1": [
                {
                    "source_column": "k",
                    "transform": "bucket[8]",
                    "name": "k_bucket",
                    "spec_field_id": 1000,
                }
            ],
        },
        "properties": {"write.bucket-layout": "spark"},
        "snapshots": [dict(FULL_SNAPSHOT)],
        "snapshot_history": [dict(FULL_SNAPSHOT)],
        "tags": {"v1": "abc123"},
        "branches": {"audit": {"snapshots": [dict(FULL_SNAPSHOT)]}},
        "renames": [{"version": 2, "from": "old_k", "to": "k"}],
        "sort_order": [
            {"column": "k", "transform": "identity", "direction": "asc",
             "null-order": "nulls-first"}
        ],
    }
    got = _meta_from_spec(_meta_to_spec(dict(meta)))
    assert got == meta


def test_indented_metadata_loads_and_commits_compact(tmp_path):
    """A metadata file in the older indented format still loads and
    commits; the commit writes a compact one-line document (the form
    CPython's C encoder produces) that reloads to the committed meta."""
    schema = T.StructType([T.StructField("k", T.LongType())])
    t = LakeCatalog(str(tmp_path / "wh")).create_table("db", "t", schema)
    old = Path(t.loaded_from)
    old.write_text(json.dumps(json.loads(old.read_text()), indent=1))

    t = LakeTable.load(t.location)
    t.commit_schema(schema.add("v", T.StringType()))
    reloaded = LakeTable.load(t.location)
    assert reloaded.loaded_from == t.loaded_from != str(old)
    assert reloaded.meta == t.meta
    assert reloaded.schema.fieldNames() == ["k", "v"]
    assert "\n" not in Path(t.loaded_from).read_text()
