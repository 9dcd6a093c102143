"""Native position deletes (Iceberg v2's position-delete-file
granularity, ``delete_where(strategy="merge_on_read_position")``):
scan-time (file, ordinal) masks, composition with the other two delete
granularities, lifecycle (compact/expire/orphans), changelog emission,
and the v2 export roundtrip."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    TableFormatError,
)


@pytest.fixture()
def catalog(tmp_path):
    return LakeCatalog(tmp_path / "wh")


def _mk(spark, catalog, name="pd"):
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    table = catalog.create_table("db", name, df.schema)
    return table, df


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_position_delete_masks_rows(spark, catalog):
    table, df = _mk(spark, catalog)
    table.append(df)
    snap = table.delete_where(
        spark, "k = 3", strategy="merge_on_read_position"
    )
    assert snap is not None and snap.delete_pos_dir
    assert snap.operation == "delete" and snap.data_dir == ""
    got = table.to_df(spark)
    assert _ids(got) == _ids(df.filter("k <> 3"))
    # nothing rewritten: the original data snapshot is untouched
    assert len([s for s in table.snapshots if s.data_dir]) == 1


def test_position_delete_does_not_mask_later_appends(spark, catalog):
    table, df = _mk(spark, catalog)
    table.append(df.filter("id < 50"))
    table.delete_where(spark, "k = 3", strategy="merge_on_read_position")
    table.append(df.filter("id >= 50"))  # k=3 rows here must survive
    got = table.to_df(spark)
    want = df.filter("id >= 50 OR k <> 3")
    assert _ids(got) == _ids(want)


def test_position_delete_no_match_returns_none(spark, catalog):
    table, df = _mk(spark, catalog)
    table.append(df)
    n = len(table.snapshots)
    assert table.delete_where(
        spark, "k = 999", strategy="merge_on_read_position"
    ) is None
    assert len(table.snapshots) == n  # nothing committed
    # the empty position dir was reclaimed eagerly, not left as debris
    assert not list((table.location / "data").glob("pos-*"))


def test_position_delete_exactness_vs_duplicates(spark, catalog):
    """THE property predicate/equality granularities cannot express:
    deleting specific physical rows among full duplicates. Two
    identical rows in one file — a predicate or key mask kills both;
    the position mask removes exactly the addressed ordinals."""
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "id long, tag string"
    ).coalesce(1)
    table = catalog.create_table("db", "dup", df.schema)
    table.append(df)
    # address exactly ONE of the duplicates via a positional scan
    addr = (
        table.to_df(spark, _with_positions=True)
        .filter("id = 1")
        .sort("_pos_index")
        .limit(1)
        .collect()[0]
    )
    import pandas as pd  # noqa: F401  (spark csv-free write path)

    pos_df = spark.createDataFrame(
        [(addr["_pos_file"], addr["_pos_index"])],
        "file_path string, pos long",
    )
    rel = "data/pos-manual0000000000"
    pos_df.coalesce(1).write.parquet(str(table.location / rel))
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        Snapshot,
    )
    import time as _t

    seq = int(table.meta["last_sequence_number"]) + 1
    table.meta["last_sequence_number"] = seq
    snap = Snapshot(
        snapshot_id="manualpos0000000",
        timestamp_ms=int(_t.time() * 1000),
        operation="delete",
        schema_version=1,
        spec_id=0,
        data_dir="",
        sequence_number=seq,
        delete_pos_dir=rel,
        files=table._collect_manifest(rel),
    )
    table.meta["snapshots"].append(snap.to_json())
    table._commit()
    got = sorted((r.id, r.tag) for r in table.to_df(spark).collect())
    assert got == [(1, "x"), (2, "y")]  # ONE duplicate survived


def test_all_three_delete_granularities_compose(spark, catalog):
    table, df = _mk(spark, catalog, "tri")
    table.append(df)
    table.delete_where(spark, "k = 1", strategy="merge_on_read")
    table.merge_into(
        spark,
        df.filter("k = 2").select("id", "k"),
        ["id"],
        when_matched_delete=True,
        insert_not_matched=False,
        strategy="merge_on_read",
    )
    table.delete_where(spark, "k = 3", strategy="merge_on_read_position")
    got = table.to_df(spark)
    assert _ids(got) == _ids(df.filter("k NOT IN (1, 2, 3)"))
    # compact folds all three mask kinds into data
    table.compact(spark)
    assert all(not s.is_row_delete for s in table.snapshots)
    assert _ids(table.to_df(spark)) == _ids(df.filter("k NOT IN (1, 2, 3)"))


def test_position_delete_time_travel_and_expire(spark, catalog):
    import time as _t

    table, df = _mk(spark, catalog, "tt")
    s1 = table.append(df)
    table.delete_where(spark, "k = 5", strategy="merge_on_read_position")
    # pre-delete time travel sees everything
    assert table.to_df(spark, as_of_snapshot=s1.snapshot_id).count() == 100
    table.compact(spark)
    table.expire_snapshots(
        older_than_ms=int(_t.time() * 1000) + 10_000, retain_last=0
    )
    # expired position-delete dir is gone from disk
    assert not list((table.location / "data").glob("pos-*"))
    # current read unaffected
    assert table.to_df(spark).count() == 100 - df.filter("k = 5").count()


def test_position_delete_changelog_and_replay(spark, catalog):
    table, df = _mk(spark, catalog, "cl")
    table.append(df)
    table.delete_where(spark, "k = 4", strategy="merge_on_read_position")
    log = table.changelog_between(spark)
    dels = log.filter("_change_type = 'delete'")
    assert _ids(dels) == _ids(df.filter("k = 4"))
    # replay invariant
    ins = log.filter("_change_type = 'insert'").drop(
        "_change_ordinal", "_snapshot_id", "_change_type"
    )
    d = dels.drop("_change_ordinal", "_snapshot_id", "_change_type")
    replayed = ins.exceptAll(d)
    target = table.to_df(spark)
    assert replayed.exceptAll(target).count() == 0
    assert target.exceptAll(replayed).count() == 0


def test_position_delete_v2_export_roundtrip(spark, catalog):
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
        read_iceberg_table,
    )

    table, df = _mk(spark, catalog, "exp")
    table.append(df.filter("id < 50"))
    table.append(df.filter("id >= 50"))
    table.delete_where(spark, "k = 6", strategy="merge_on_read_position")
    export_to_iceberg(table, spark=spark)
    got, doc = read_iceberg_table(spark, table.location)
    assert doc["format-version"] == 2
    assert _ids(got) == _ids(table.to_df(spark))
    assert _ids(got) == _ids(df.filter("k <> 6"))


def test_position_update_atomic_pair(spark, catalog):
    """update_where(strategy='merge_on_read_position'): the pre-images
    mask by position, the post-images append, one atomic commit pair —
    and the changelog replays the update as delete+insert."""
    table, df = _mk(spark, catalog, "upd")
    table.append(df)
    snap = table.update_where(
        spark, "k = 2", {"k": "k + 100"},
        strategy="merge_on_read_position",
    )
    assert snap is not None and snap.operation == "append"
    snaps = table.snapshots
    assert snaps[-2].delete_pos_dir and snaps[-2].operation == "delete"
    assert snaps[-2].timestamp_ms == snaps[-1].timestamp_ms  # one pair
    got = table.to_df(spark)
    want = df.select(
        "id",
        F.when(F.col("k") == 2, F.col("k") + 100)
        .otherwise(F.col("k"))
        .alias("k"),
    )
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))
    # no-op update commits nothing
    n = len(table.snapshots)
    assert table.update_where(
        spark, "k = 999", {"k": "k"},
        strategy="merge_on_read_position",
    ) is None
    assert len(table.snapshots) == n
    # changelog: update surfaces as delete(old)+insert(new)
    log = table.changelog_between(spark)
    dels = log.filter("_change_type = 'delete'")
    assert _ids(dels) == _ids(df.filter("k = 2"))
    ins = log.filter("_change_type = 'insert' AND k > 100")
    assert _ids(ins) == _ids(df.filter("k = 2"))


def test_position_update_via_sql(spark, catalog, tmp_path):
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import (
        DdlFrontend,
    )

    ddl = DdlFrontend(spark, LakeCatalog(tmp_path / "wh2"))
    ddl.sql("CREATE TABLE db.pu (id BIGINT, k BIGINT) TBLPROPERTIES "
            "('write.update.mode' = 'merge-on-read-position')")
    ddl.sql("INSERT INTO db.pu SELECT id, id % 7 FROM range(50)")
    r = ddl.sql("UPDATE db.pu SET k = k * 10 WHERE k = 4")
    assert not r.has_error, r.message_list
    table = ddl.catalog.load_table("db", "pu")
    assert any(s.delete_pos_dir for s in table.snapshots)
    assert ddl.query(
        "SELECT COUNT(*) AS n FROM db.pu WHERE k = 40"
    ).collect()[0]["n"] == 7


def test_position_mask_composes_with_manifest_pruning(spark, catalog):
    """Pruned scans (reads of the surviving manifest files only) must
    still capture (file, ordinal) addresses and apply the position
    mask — the two scan-planning features compose."""
    table, df = _mk(spark, catalog, "prune")
    # two appends with disjoint id ranges -> prunable manifest bounds
    table.append(df.filter("id < 50").coalesce(1))
    table.append(df.filter("id >= 50").coalesce(1))
    table.delete_where(spark, "k = 3", strategy="merge_on_read_position")
    got = table.to_df(spark, pruning=[("id", "<", 50)])
    want = df.filter("id < 50 AND k <> 3")
    assert _ids(got) == _ids(want)
    # and the pruned+masked scan really skipped the other snapshot
    assert len(got.inputFiles()) < len(table.to_df(spark).inputFiles())


def test_compact_position_deletes_merges_masks(spark, catalog):
    """rewrite_position_delete_files analog: three position masks
    merge into ONE live entry, state unchanged, time travel to a
    between-state still applies the originals from history, and the
    full-range changelog still replays."""
    table, df = _mk(spark, catalog, "pdm")
    table.append(df)
    table.delete_where(spark, "k = 1", strategy="merge_on_read_position")
    mid = table.snapshots[-1]
    table.delete_where(spark, "k = 2", strategy="merge_on_read_position")
    table.delete_where(spark, "k = 3", strategy="merge_on_read_position")
    before = _ids(table.to_df(spark))
    merged = table.compact_position_deletes(spark)
    assert merged is not None and merged.delete_pos_dir
    live_masks = [s for s in table.snapshots if s.is_row_delete]
    assert len(live_masks) == 1  # one anti-join arm instead of three
    assert _ids(table.to_df(spark)) == before
    # between-state time travel: only k=1 deleted as of `mid`
    tt = table.to_df(spark, as_of_snapshot=mid.snapshot_id)
    assert _ids(tt) == _ids(df.filter("k <> 1"))
    # changelog across the merge still replays (merged mask emits
    # nothing new: its rows were already masked by the originals)
    log = table.changelog_between(spark)
    ins = log.filter("_change_type = 'insert'").drop(
        "_change_ordinal", "_snapshot_id", "_change_type"
    )
    dels = log.filter("_change_type = 'delete'").drop(
        "_change_ordinal", "_snapshot_id", "_change_type"
    )
    replayed = ins.exceptAll(dels)
    target = table.to_df(spark)
    assert replayed.exceptAll(target).count() == 0
    assert target.exceptAll(replayed).count() == 0
    # fewer than two masks -> no-op
    assert table.compact_position_deletes(spark) is None


def test_rewrite_position_delete_files_via_sql(spark, catalog, tmp_path):
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import (
        DdlFrontend,
    )

    ddl = DdlFrontend(spark, LakeCatalog(tmp_path / "wh3"))
    ddl.sql("CREATE TABLE db.rp (id BIGINT, k BIGINT) TBLPROPERTIES "
            "('write.delete.mode' = 'merge-on-read-position')")
    ddl.sql("INSERT INTO db.rp SELECT id, id % 7 FROM range(100)")
    ddl.sql("DELETE FROM db.rp WHERE k = 1")
    ddl.sql("DELETE FROM db.rp WHERE k = 2")
    r = ddl.sql("CALL system.rewrite_position_delete_files('db.rp')")
    assert not r.has_error and "merged into snapshot" in r.message_list[-1]
    table = ddl.catalog.load_table("db", "rp")
    assert len([s for s in table.snapshots if s.is_row_delete]) == 1
    n = ddl.query("SELECT COUNT(*) AS n FROM db.rp").collect()[0]["n"]
    assert n == 100 - 15 - 14  # k=1: ids 1..99 (15), k=2: ids 2..93 (14)
