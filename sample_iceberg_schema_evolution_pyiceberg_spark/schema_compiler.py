"""Compile a table-definition dict into a Spark ``StructType`` with
Iceberg-style field IDs.

Reference parity (no code copied):
- recursive field compile: ``/root/reference/lambda/iceberg_helper.py:127-178``
  (``_get_nested_field``: struct_def -> StructType children, map_def ->
  key/value fields, array_def -> element with the array's own ``required``
  propagated to element_required, iceberg_helper.py:172-175).
- ``required`` -> Iceberg required/optional (iceberg_helper.py:139-140);
  Spark equivalent: ``nullable = not required``.
- field-ID assignment: the reference round-trips the schema through a
  throwaway SQLite catalog so PyIceberg mints real IDs
  (iceberg_helper.py:187-195). We assign IDs directly: pre-order walk,
  sequential from 1, root fields first then nested — the same observable
  ordering the reference relies on for its reorder pass
  (iceberg_helper.py:341,356: reorder by target field_id == config order).

Field IDs are stored in ``StructField.metadata['field_id']`` and survive
``StructType.json()`` round-trips, which the table format uses to
persist versioned schemas.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import types as T

from .config import is_nested_type_string, map_config_type

FIELD_ID_KEY = "field_id"


class SchemaCompileError(ValueError):
    pass


def compile_schema(table_def: dict[str, Any]) -> T.StructType:
    """table-definition dict -> StructType with field IDs assigned."""
    counter = _Counter()
    # Two-phase ID assignment, matching Iceberg: root fields get the first
    # contiguous ID block (config order), nested fields are numbered after
    # all roots. The reference's reorder-by-field-id pass depends on root
    # IDs reflecting config order (iceberg_helper.py:338-347).
    roots = [
        _compile_field(c, counter, assign_children=False)
        for c in table_def["columns"]
    ]
    fields = [
        _assign_nested_ids(f, c, counter)
        for f, c in zip(roots, table_def["columns"])
    ]
    return T.StructType(fields)


class _Counter:
    def __init__(self) -> None:
        self.n = 0

    def next(self) -> int:
        self.n += 1
        return self.n


def _field_meta(fid: int) -> dict[str, Any]:
    return {FIELD_ID_KEY: fid}


def _compile_field(
    col: dict[str, Any], counter: _Counter, assign_children: bool
) -> T.StructField:
    name = col["column_name"]
    fid = counter.next()
    dtype = _compile_type(col, counter) if assign_children else map_config_type(
        str(col.get("data_type", ""))
    )
    return T.StructField(
        name,
        dtype,
        nullable=not bool(col.get("required", False)),
        metadata=_field_meta(fid),
    )


def _assign_nested_ids(
    field: T.StructField, col: dict[str, Any], counter: _Counter
) -> T.StructField:
    return T.StructField(
        field.name,
        _compile_type(col, counter),
        nullable=field.nullable,
        metadata=dict(field.metadata),
    )


def _compile_type(col: dict[str, Any], counter: _Counter) -> T.DataType:
    dt = str(col.get("data_type", ""))
    if not is_nested_type_string(dt):
        return map_config_type(dt)
    s = dt.strip().lower()
    if s.startswith("struct"):
        children = col.get("struct_def") or []
        if not children:
            raise SchemaCompileError(
                f"{col.get('column_name')}: struct requires struct_def"
            )
        return T.StructType(
            [_compile_field(c, counter, assign_children=True) for c in children]
        )
    if s.startswith(("array", "list")):
        elem = col.get("array_def")
        if elem is None:
            raise SchemaCompileError(
                f"{col.get('column_name')}: array requires array_def"
            )
        # element nullability inherits the array's own `required`
        # (reference: iceberg_helper.py:172-175)
        elem_required = bool(col.get("required", False))
        counter.next()  # element slot gets an ID, like Iceberg
        elem_type = _compile_type(elem, counter)
        return T.ArrayType(elem_type, containsNull=not elem_required)
    if s.startswith("map"):
        mdef = col.get("map_def")
        if not mdef or "key" not in mdef or "value" not in mdef:
            raise SchemaCompileError(
                f"{col.get('column_name')}: map requires map_def{{key,value}}"
            )
        counter.next()  # key slot ID
        key_type = _compile_type(mdef["key"], counter)
        counter.next()  # value slot ID
        value_type = _compile_type(mdef["value"], counter)
        value_nullable = not bool(mdef["value"].get("required", False))
        return T.MapType(key_type, value_type, valueContainsNull=value_nullable)
    raise SchemaCompileError(f"unreachable nested kind: {dt}")


# ---------------------------------------------------------------------------
# Helpers used across the engine
# ---------------------------------------------------------------------------


def field_id(field: T.StructField) -> int | None:
    try:
        v = field.metadata.get(FIELD_ID_KEY)
    except AttributeError:
        return None
    return int(v) if v is not None else None


def max_field_id(schema: T.StructType) -> int:
    best = 0

    def walk(dt: T.DataType) -> None:
        nonlocal best
        if isinstance(dt, T.StructType):
            for f in dt.fields:
                fid = field_id(f)
                if fid:
                    best = max(best, fid)
                walk(f.dataType)
        elif isinstance(dt, T.ArrayType):
            walk(dt.elementType)
        elif isinstance(dt, T.MapType):
            walk(dt.keyType)
            walk(dt.valueType)

    walk(schema)
    return best
