"""Column RENAME evolution (VERDICT r8 item 5): metadata-only rename
with preserved column identity — pre-rename snapshots read under the
new name, incremental reads map forward, DDL + config directives wire
through, and the guards (partition anchor, live MoR deletes, collisions)
hold."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
    compile_partition_spec,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    TableFormatError,
)


def _mk(spark, tmp_path, name="rn"):
    src = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("amount")
    )
    cat = LakeCatalog(tmp_path / "wh")
    tbl = cat.create_table("db", name, src.schema)
    tbl.append(src)
    return cat, tbl, src


def test_rename_golden_old_snapshots_read_under_new_name(spark, tmp_path):
    cat, tbl, _src = _mk(spark, tmp_path)
    pre_snap = tbl.snapshots[-1].snapshot_id
    v = tbl.rename_column("amount", "total")
    assert v == int(tbl.meta["current_schema_version"])
    # post-rename append under the NEW name
    tbl.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("total")
        )
    )
    full = tbl.to_df(spark)
    assert full.columns == ["k", "total"]
    assert full.count() == 150
    # the pre-rename rows surface under the new name, values intact
    assert full.filter("k = 7").collect()[0].total == 14
    assert full.filter("k = 120").collect()[0].total == 240
    # time travel to the PRE-rename snapshot also reads the current
    # (renamed) schema — Iceberg's column-identity contract
    old = tbl.to_df(spark, as_of_snapshot=pre_snap)
    assert old.columns == ["k", "total"]
    assert old.count() == 100


def test_rename_log_survives_reload(spark, tmp_path):
    """The rename log must survive the metadata JSON round-trip: before
    the fix the serializer dropped meta['renames'], so every RELOADED
    handle (any session after the renaming one) read pre-rename files
    as drop+add — silently NULLing the column the feature exists to
    protect, while same-handle tests kept passing."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    cat, tbl, src = _mk(spark, tmp_path)
    tbl.rename_column("amount", "cost")
    tbl.append(
        spark.range(100, 200).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("cost")
        )
    )
    fresh = LakeTable.load(tmp_path / "wh" / "db" / "rn")
    assert fresh.meta.get("renames"), "rename log lost on reload"
    got = fresh.to_df(spark).selectExpr("sum(cost) AS s").collect()[0].s
    assert got == sum(i * 2 for i in range(200))
    assert fresh.to_df(spark).filter("cost IS NULL").count() == 0


def test_rename_chain_composes(spark, tmp_path):
    _cat, tbl, _src = _mk(spark, tmp_path)
    tbl.rename_column("amount", "amt")
    tbl.rename_column("amt", "total_amount")
    df = tbl.to_df(spark)
    assert df.columns == ["k", "total_amount"]
    assert df.filter("k = 3").collect()[0].total_amount == 6
    # and the name is free for reuse afterward
    tbl.rename_column("total_amount", "amount")
    assert tbl.to_df(spark).columns == ["k", "amount"]


def test_rename_incremental_reads_map_forward(spark, tmp_path):
    _cat, tbl, _src = _mk(spark, tmp_path)
    s1 = tbl.snapshots[-1]
    tbl.rename_column("amount", "total")
    s2 = tbl.append(
        spark.range(100, 120).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("total")
        )
    )
    inc = tbl.changes_between(
        spark, from_snapshot=None, to_snapshot=s2.snapshot_id
    )
    assert "total" in inc.columns and "amount" not in inc.columns
    assert inc.count() == 120
    # changelog too
    log = tbl.changelog_between(spark)
    assert "total" in log.columns and "amount" not in log.columns
    assert log.filter("_change_type = 'insert'").count() == 120
    del s1


def _renamed_table(spark, tmp_path, fold=False):
    """(id, grp, tag): 10 rows, RENAME grp -> g, 10 more rows under the
    new name; ``fold`` folds both appends into one manifest rewrite, so
    a fresh stream base-loads files written under two schema versions."""
    src = spark.range(0, 20).select(
        F.col("id"),
        (F.col("id") % 4).alias("grp"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"),
    )
    cat = LakeCatalog(tmp_path / "wh")
    tbl = cat.create_table("db", "rv", src.schema)
    tbl.append(src.filter("id < 10"))
    tbl.rename_column("grp", "g")
    tbl.append(src.filter("id >= 10").withColumnRenamed("grp", "g"))
    if fold:
        tbl.rewrite_manifests()
    return tbl


def _stream_rows(spark, tbl, tmp_path, name):
    q = (
        tbl.stream_changes(spark)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"chk_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


@pytest.mark.parametrize(
    "reader",
    ["to_df", "changes_between", "changelog_between", "stream_changes",
     "stream_changes_fold"],
)
def test_rename_values_through_every_reader(spark, tmp_path, reader):
    """Every reader maps pre-rename files through the rename log: the
    renamed column carries the written values, never NULL."""
    tbl = _renamed_table(spark, tmp_path, fold=reader.endswith("_fold"))
    if reader.startswith("stream_changes"):
        df = _stream_rows(spark, tbl, tmp_path, f"rv_{reader}")
    else:
        df = getattr(tbl, reader)(spark)
    assert "grp" not in df.columns
    got = sorted(
        (r.id, r.g, r.tag) for r in df.select("id", "g", "tag").collect()
    )
    assert got == [(i, i % 4, f"t{i}") for i in range(20)]


def test_export_refuses_pre_rename_files(spark, tmp_path):
    """The export cannot carry a rename to Iceberg readers yet (the
    renamed column gets a fresh field id and no name mapping), so it
    refuses before writing anything and points at compact(); after
    compact() the export reads back every value."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
        read_iceberg_table,
    )

    tbl = _renamed_table(spark, tmp_path)
    with pytest.raises(RuntimeError, match=r"'grp'.*'g'.*compact\(\)"):
        export_to_iceberg(tbl, spark=spark)
    assert not (tbl.location / "metadata").exists()
    tbl.compact(spark)
    tbl = tbl.refresh()
    export_to_iceberg(tbl, spark=spark)
    back, _doc = read_iceberg_table(spark, tbl.location)
    got = sorted((r.id, r.g) for r in back.select("id", "g").collect())
    assert got == [(i, i % 4) for i in range(20)]


def test_rename_guards(spark, tmp_path):
    src = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("amount")
    )
    cat = LakeCatalog(tmp_path / "wh")
    tbl = cat.create_table(
        "db", "rg", src.schema,
        partition_spec=compile_partition_spec(
            {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
        ),
    )
    tbl.append(src)
    with pytest.raises(TableFormatError, match="anchors a partition"):
        tbl.rename_column("k", "key")
    with pytest.raises(TableFormatError, match="no column"):
        tbl.rename_column("ghost", "x")
    with pytest.raises(TableFormatError, match="already in use"):
        tbl.rename_column("amount", "k")
    # live MoR delete blocks rename (its predicate names old columns)
    tbl.delete_where(spark, "amount > 90", strategy="merge_on_read")
    tbl = tbl.refresh()
    with pytest.raises(TableFormatError, match="merge-on-read"):
        tbl.rename_column("amount", "total")


def test_rename_via_ddl_and_config(spark, tmp_path):
    import json

    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend
    from sample_iceberg_schema_evolution_pyiceberg_spark.handler import (
        process_event,
    )

    cat = LakeCatalog(tmp_path / "wh")
    ddl = DdlFrontend(spark, cat)
    assert not ddl.sql("CREATE TABLE d.r (a INT, b STRING)").has_error
    r = ddl.sql("ALTER TABLE d.r RENAME COLUMN a TO a2")
    assert not r.has_error, r.message_list
    assert cat.load_table("d", "r").schema.fieldNames() == ["a2", "b"]

    # config-driven: a renames directive preserves identity (the diff
    # sees no drop+add), and re-running the same config is idempotent
    base = {
        "database_name": "d2",
        "table_name": "t",
        "columns": [
            {"column_name": "a", "data_type": "int"},
            {"column_name": "b", "data_type": "string"},
        ],
    }
    p1 = tmp_path / "v1.json"
    p1.write_text(json.dumps(base))
    assert not process_event(spark, cat, str(p1)).has_error
    evolved = {
        **base,
        "columns": [
            {"column_name": "a2", "data_type": "int"},
            {"column_name": "b", "data_type": "string"},
        ],
        "renames": [{"from": "a", "to": "a2"}],
    }
    p2 = tmp_path / "v2.json"
    p2.write_text(json.dumps(evolved))
    r2 = process_event(spark, cat, str(p2))
    assert not r2.has_error, r2.message_list
    assert any("Renamed column a to a2" in m for m in r2.message_list)
    # no drop/add of the renamed column happened
    assert not any("Dropped column a" in m for m in r2.message_list)
    assert cat.load_table("d2", "t").schema.fieldNames() == ["a2", "b"]
    r3 = process_event(spark, cat, str(p2))  # idempotent re-run
    assert not r3.has_error, r3.message_list
