"""A failed metadata commit leaves the handle as it was, for every
snapshot-producing op, for schema/spec evolution and for the
metadata-only ref and history ops.

An Iceberg commit either lands or changes nothing; a handle whose
in-memory metadata ran ahead of a failed commit would publish the
failed attempt's state with its next successful commit (a retried
append then shows its rows twice). Every case makes ``_commit`` raise
and compares the full metadata document before and after."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import types as T

from sample_iceberg_schema_evolution_pyiceberg_spark.fileio import LocalFileIO
from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
    compile_partition_spec,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    _meta_to_spec,
)

SCHEMA = T.StructType(
    [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
)
CHANGELOG = T.StructType(
    SCHEMA.fields
    + [
        T.StructField("_change_ordinal", T.IntegerType()),
        T.StructField("_snapshot_id", T.StringType()),
        T.StructField("_change_type", T.StringType()),
    ]
)


def _rows(spark, lo, hi):
    return spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], SCHEMA
    ).coalesce(1)


def _doc(t):
    # serialized, so later in-place changes to the handle cannot alias
    doc = json.loads(json.dumps(_meta_to_spec(t.meta)))
    doc.pop("last-updated-ms")  # stamped at serialization time
    return doc


def _changelog(spark):
    return spark.createDataFrame(
        [(1, "v1", 0, "s", "delete"), (1, "n1", 0, "s", "insert"),
         (50, "n50", 1, "s", "insert")],
        CHANGELOG,
    )


def _src_dir(spark, tmp_path):
    d = str(tmp_path / "src")
    _rows(spark, 900, 905).write.parquet(d)
    return d


def _two_pos_deletes(spark, t):
    for k in (1, 2):
        t.delete_where(spark, f"k = {k}", strategy="merge_on_read_position")


# name -> (setup(spark, t, tmp_path) -> arg, op(spark, t, arg))
OPS = {
    "append": (None, lambda s, t, a: t.append(_rows(s, 100, 110))),
    "append_branch": (
        lambda s, t, p: t.create_branch("b"),
        lambda s, t, a: t.append(_rows(s, 100, 110), branch="b"),
    ),
    "overwrite": (None, lambda s, t, a: t.overwrite(_rows(s, 0, 5))),
    "compact": (None, lambda s, t, a: t.compact(s)),
    "compact_sort_by": (None, lambda s, t, a: t.compact(s, sort_by=["v"])),
    **{
        f"delete_where_{st}": (
            None,
            lambda s, t, a, st=st: t.delete_where(s, "k = 1", strategy=st),
        )
        for st in ("copy_on_write", "merge_on_read", "merge_on_read_position")
    },
    **{
        f"update_where_{st}": (
            None,
            lambda s, t, a, st=st: t.update_where(
                s, "k = 1", {"v": "'x'"}, strategy=st
            ),
        )
        for st in ("copy_on_write", "merge_on_read", "merge_on_read_position")
    },
    **{
        f"merge_into_{st}": (
            None,
            lambda s, t, a, st=st: t.merge_into(
                s,
                s.createDataFrame([(1, "m"), (100, "i")], SCHEMA),
                ["k"],
                when_matched_update={"v": "s_v"},
                strategy=st,
            ),
        )
        for st in ("copy_on_write", "merge_on_read")
    },
    "apply_changelog": (
        None, lambda s, t, a: t.apply_changelog(s, _changelog(s))
    ),
    "apply_changelog_keys": (
        None,
        lambda s, t, a: t.apply_changelog(s, _changelog(s), key_cols=["k"]),
    ),
    "compact_position_deletes": (
        lambda s, t, p: _two_pos_deletes(s, t),
        lambda s, t, a: t.compact_position_deletes(s),
    ),
    "rewrite_manifests": (
        lambda s, t, p: t.append(_rows(s, 10, 20)),
        lambda s, t, a: t.rewrite_manifests(),
    ),
    "add_files": (
        lambda s, t, p: _src_dir(s, p),
        lambda s, t, a: t.add_files(a),
    ),
    "commit_schema": (
        None,
        lambda s, t, a: t.commit_schema(
            T.StructType(SCHEMA.fields + [T.StructField("w", T.LongType())])
        ),
    ),
    "rename_column": (None, lambda s, t, a: t.rename_column("v", "v2")),
    "commit_spec": (
        None,
        lambda s, t, a: t.commit_spec(
            compile_partition_spec(
                {"partitions": [{"column_name": "k",
                                 "transform": "bucket[4]"}]}
            )
        ),
    ),
    "create_branch": (None, lambda s, t, a: t.create_branch("b")),
    "drop_branch": (
        lambda s, t, p: t.create_branch("b"),
        lambda s, t, a: t.drop_branch("b"),
    ),
    "fast_forward": (
        lambda s, t, p: (
            t.create_branch("b"), t.append(_rows(s, 100, 110), branch="b")
        ),
        lambda s, t, a: t.fast_forward("b"),
    ),
    "create_tag": (None, lambda s, t, a: t.create_tag("tg")),
    "drop_tag": (
        lambda s, t, p: t.create_tag("tg"),
        lambda s, t, a: t.drop_tag("tg"),
    ),
    # the expired first append stays as a tombstone the retained
    # second one needs, so only its "expired" flag changes
    "expire_snapshots": (
        lambda s, t, p: (
            t.append(_rows(s, 10, 20)), t.overwrite(_rows(s, 0, 5))
        ),
        lambda s, t, a: t.expire_snapshots(retain_last=1),
    ),
    "rollback_to_snapshot": (
        lambda s, t, p: (
            t.snapshots[-1].snapshot_id, t.append(_rows(s, 10, 20))
        )[0],
        lambda s, t, a: t.rollback_to_snapshot(a),
    ),
}


@pytest.mark.parametrize("name", sorted(OPS))
def test_failed_commit_leaves_handle_unchanged(spark, tmp_path, name):
    setup, op = OPS[name]
    t = LakeCatalog(str(tmp_path / "wh")).create_table("db", "t", SCHEMA)
    t.append(_rows(spark, 0, 10))
    arg = setup(spark, t, tmp_path) if setup else None
    before = _doc(t)

    def _boom(*a, **kw):
        raise RuntimeError("simulated commit failure")

    orig = t._commit
    t._commit = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            op(spark, t, arg)
    finally:
        t._commit = orig
    assert _doc(t) == before
    if name == "append":
        # the retry commits its rows exactly once
        op(spark, t, arg)
        assert t.to_df(spark).count() == 20
        assert int(t.meta["last_sequence_number"]) == 2


@pytest.mark.parametrize("name", sorted(OPS))
def test_op_writes_one_metadata_version(spark, tmp_path, name):
    """Nested transactions join the outermost one, so each op
    publishes exactly one metadata version."""
    setup, op = OPS[name]
    t = LakeCatalog(str(tmp_path / "wh")).create_table("db", "t", SCHEMA)
    t.append(_rows(spark, 0, 10))
    arg = setup(spark, t, tmp_path) if setup else None

    def versions():
        return len(list((t.location / "_meta").glob("v*.metadata.json")))

    before = versions()
    op(spark, t, arg)
    assert versions() == before + 1


def test_published_commit_survives_failed_hint_write(spark, tmp_path):
    """With a publish hook the hook is the commit point: a failed
    version-hint write after it leaves a stale hint, not a reverted
    handle, and the next commit numbers past the published version."""
    published = []

    class HintFailsOnce(LocalFileIO):
        fail = True

        def write_text(self, path, text):
            if self.fail and path.endswith("version-hint.text"):
                HintFailsOnce.fail = False
                raise OSError("simulated hint write failure")
            super().write_text(path, text)

    t = LakeCatalog(str(tmp_path / "wh")).create_table("db", "t", SCHEMA)
    t.append(_rows(spark, 0, 10))
    t.io = HintFailsOnce()
    t.on_commit = lambda version, path: published.append(path)
    with pytest.warns(RuntimeWarning, match="version-hint"):
        snap = t.append(_rows(spark, 10, 20))

    assert published == [t.loaded_from]
    doc = json.loads(t.io.read_text(published[0]))
    doc.pop("last-updated-ms")
    assert _doc(t) == doc
    assert len(t.snapshots) == 2
    assert t.remove_orphan_files() == []
    assert (t.location / snap.data_dir).is_dir()
    assert t.to_df(spark).count() == 20

    t.create_tag("after")
    assert Path(published[1]).name.startswith("v4-")
