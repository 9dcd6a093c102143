"""Schema diff: target vs live schema -> ``SchemaChange`` records.

Reference parity (no code copied):
- ``SchemaChange`` dataclass IR: ``/root/reference/lambda/iceberg_helper.py:24-75``
  — one record per column path with add/drop/update flags, nesting
  metadata (is_nested, parent path, nest level), and a validity check.
- diff loops: ``iceberg_helper.py:254-295`` — target-vs-existing walk
  producing adds/updates, existing-vs-target walk producing drops.
- ``data_type_change_allowed``: ``iceberg_helper.py:48-65`` — the only
  validation the reference implements is rejecting primitive<->nested
  flips; PyIceberg's ``allow_incompatible_changes=False`` does the real
  enforcement. We enforce pre-flight for real (SURVEY.md §2 fine print):
  legal promotions are int->long, float->double, and decimal precision
  widening at equal scale — Iceberg's own compatibility matrix.

Paths are dotted; array-element struct fields appear as
``col.element.child`` and map sides as ``col.key`` / ``col.value``,
matching Iceberg path addressing.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import types as T

from .schema_compiler import field_id

_PROMOTABLE: set[tuple[str, str]] = {
    ("integer", "long"),
    ("float", "double"),
}


@dataclass
class SchemaChange:
    """One column path's delta between live and target schemas."""

    column_path: str
    target_type: T.DataType | None = None
    existing_type: T.DataType | None = None
    target_required: bool = False
    target_field_id: int | None = None
    add: bool = False
    drop: bool = False
    update: bool = False
    is_nested: bool = False
    parent_path: str | None = None
    nest_level: int = 0
    messages: list[str] = dc_field(default_factory=list)

    def data_type_change_allowed(self) -> tuple[bool, list[str]]:
        """Pre-flight legality of this change (reference computes but only
        logs this — iceberg_helper.py:297-299; we enforce)."""
        if not self.update:
            return True, []
        old, new = self.existing_type, self.target_type
        if old is None or new is None:
            return True, []
        old_nested = isinstance(old, (T.StructType, T.ArrayType, T.MapType))
        new_nested = isinstance(new, (T.StructType, T.ArrayType, T.MapType))
        if old_nested != new_nested:
            return False, [
                f"{self.column_path}: cannot change between primitive and "
                f"nested type ({old.simpleString()} -> {new.simpleString()})"
            ]
        if old_nested:
            return True, []  # nested type updates are skipped downstream anyway
        if (old.typeName(), new.typeName()) in _PROMOTABLE:
            return True, []
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            if new.scale == old.scale and new.precision >= old.precision:
                return True, []
            return False, [
                f"{self.column_path}: decimal change "
                f"{old.simpleString()} -> {new.simpleString()} must widen "
                "precision at equal scale"
            ]
        return False, [
            f"{self.column_path}: type promotion "
            f"{old.simpleString()} -> {new.simpleString()} is not allowed"
        ]


@dataclass(frozen=True)
class _FlatField:
    path: str
    dtype: T.DataType
    required: bool
    fid: int | None
    nest_level: int
    parent: str | None


def flatten(schema: T.StructType) -> dict[str, _FlatField]:
    """Flatten a schema into addressable column paths (structs recurse;
    array-element structs recurse under ``.element``; map value structs
    under ``.value``). The nested kinds themselves also get an entry."""
    out: dict[str, _FlatField] = {}

    def walk(st: T.StructType, prefix: str, level: int) -> None:
        for f in st.fields:
            path = f"{prefix}{f.name}"
            parent = prefix[:-1] if prefix else None
            out[path] = _FlatField(
                path, f.dataType, not f.nullable, field_id(f), level, parent
            )
            dt = f.dataType
            if isinstance(dt, T.StructType):
                walk(dt, f"{path}.", level + 1)
            elif isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, T.StructType
            ):
                walk(dt.elementType, f"{path}.element.", level + 1)
            elif isinstance(dt, T.MapType) and isinstance(
                dt.valueType, T.StructType
            ):
                walk(dt.valueType, f"{path}.value.", level + 1)

    walk(schema, "", 0)
    return out


def _types_equal(a: T.DataType, b: T.DataType) -> bool:
    """Compare shallowly for nested kinds (children diff on their own
    paths), exactly for primitives."""
    a_nested = isinstance(a, (T.StructType, T.ArrayType, T.MapType))
    b_nested = isinstance(b, (T.StructType, T.ArrayType, T.MapType))
    if a_nested or b_nested:
        if type(a) is not type(b):
            return False
        if isinstance(a, T.ArrayType) and not isinstance(
            a.elementType, T.StructType
        ):
            # primitive-element arrays compare element types directly
            return _types_equal(a.elementType, b.elementType)
        return True
    return a == b


def diff_schemas(
    existing: T.StructType, target: T.StructType
) -> list[SchemaChange]:
    """Per-column-path diff (reference: iceberg_helper.py:254-295).

    Ordering: target-walk order for adds/updates (config order governs the
    downstream reorder pass), then existing-walk order for drops.
    """
    live = flatten(existing)
    want = flatten(target)
    changes: list[SchemaChange] = []
    for path, tf in want.items():
        lf = live.get(path)
        if lf is None:
            changes.append(
                SchemaChange(
                    column_path=path,
                    target_type=tf.dtype,
                    target_required=tf.required,
                    target_field_id=tf.fid,
                    add=True,
                    is_nested=tf.nest_level > 0,
                    parent_path=tf.parent,
                    nest_level=tf.nest_level,
                )
            )
        elif not _types_equal(lf.dtype, tf.dtype):
            changes.append(
                SchemaChange(
                    column_path=path,
                    target_type=tf.dtype,
                    existing_type=lf.dtype,
                    target_required=tf.required,
                    target_field_id=tf.fid,
                    update=True,
                    is_nested=tf.nest_level > 0,
                    parent_path=tf.parent,
                    nest_level=tf.nest_level,
                )
            )
    for path, lf in live.items():
        if path not in want:
            changes.append(
                SchemaChange(
                    column_path=path,
                    existing_type=lf.dtype,
                    drop=True,
                    is_nested=lf.nest_level > 0,
                    parent_path=lf.parent,
                    nest_level=lf.nest_level,
                )
            )
    return changes
