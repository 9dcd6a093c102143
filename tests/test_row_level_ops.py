"""Row-level operations on lake tables: MERGE / DELETE / UPDATE
(copy-on-write) and incremental append reads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    TableFormatError,
)


@pytest.fixture()
def table(spark, tmp_path):
    cat = LakeCatalog(tmp_path / "wh")
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit("old").alias("tag")
    )
    t = cat.create_table("db", "rl", df.schema)
    t.append(df)
    return t


def test_delete_where(spark, table):
    table.delete_where(spark, "grp = 3")
    df = table.to_df(spark)
    assert df.count() == 90
    assert df.filter("grp = 3").count() == 0
    assert table.snapshots[0].operation == "delete"


def test_update_where(spark, table):
    table.update_where(spark, "id < 10", {"tag": "'new'"})
    df = table.to_df(spark)
    assert df.filter("tag = 'new'").count() == 10
    assert df.filter("tag = 'old'").count() == 90


def test_merge_upsert(spark, table):
    src = spark.range(50, 150).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit("src").alias("tag")
    )
    table.merge_into(
        spark, src, ["id"], when_matched_update={"tag": "'upd'"}
    )
    df = table.to_df(spark)
    assert df.count() == 150
    assert df.filter("tag = 'upd'").count() == 50   # 50-99 updated
    assert df.filter("tag = 'src'").count() == 50   # 100-149 inserted
    assert df.filter("tag = 'old'").count() == 50   # 0-49 untouched


def test_merge_matched_delete(spark, table):
    src = spark.range(0, 30).select(F.col("id"))
    table.merge_into(
        spark, src, ["id"], when_matched_delete=True, insert_not_matched=False
    )
    assert table.to_df(spark).count() == 70


def test_merge_legacy_delete_takes_precedence_over_update(spark, table):
    """Old if/elif contract: when both legacy kwargs are passed, delete
    wins and the update dict is ignored — preserved by ordering the
    delete clause first in the legacy translation."""
    src = spark.range(0, 30).select(F.col("id"))
    table.merge_into(
        spark,
        src,
        ["id"],
        when_matched_update={"tag": "'upd'"},
        when_matched_delete=True,
        insert_not_matched=False,
    )
    df = table.to_df(spark)
    assert df.count() == 70
    assert df.filter("tag = 'upd'").count() == 0


def test_time_travel_across_row_ops(spark, table):
    s0 = table.snapshots[0]
    table.delete_where(spark, "id < 50")
    assert table.to_df(spark).count() == 50
    assert table.to_df(spark, as_of_snapshot=s0.snapshot_id).count() == 100


def test_incremental_append_read(spark, table):
    s0 = table.snapshots[0]
    inc = spark.range(1000, 1020).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit("inc").alias("tag")
    )
    table.append(inc)
    delta = table.read_appends_since(spark, s0.snapshot_id)
    assert delta.count() == 20
    assert delta.filter("tag = 'inc'").count() == 20
    # after a rewrite, incremental read must refuse
    table.delete_where(spark, "grp = 0")
    with pytest.raises(TableFormatError):
        table.read_appends_since(spark, s0.snapshot_id)


def test_time_travel_to_row_level_rewrite_snapshot(spark, table):
    """A delete/update/merge snapshot is a full live-set rewrite:
    time travel TO it must see exactly the post-DML state, never a
    union with pre-DML ancestors (which would resurrect deleted
    rows)."""
    assert table.to_df(spark).count() == 100
    sd = table.delete_where(spark, "grp = 0")  # 10 rows gone
    assert sd.operation == "delete"
    tt = table.to_df(spark, as_of_snapshot=sd.snapshot_id)
    assert tt.count() == 90
    assert tt.filter("grp = 0").count() == 0
    # travel BEFORE the delete still sees the original state
    s0 = table.meta["snapshot_history"][0]["snapshot_id"]
    assert table.to_df(spark, as_of_snapshot=s0).count() == 100


def test_expire_reaps_after_row_level_rewrite(spark, table):
    """expire_snapshots must treat DML rewrites as segment starts:
    pre-DML history dirs are reapable once expired (nothing retained
    depends on them through a full-rewrite boundary)."""
    table.delete_where(spark, "grp = 1")
    pre_dirs = [s["data_dir"] for s in table.meta["snapshot_history"]]
    expired = table.expire_snapshots(older_than_ms=2**62)  # explicit age-blind
    assert len(expired) == len(pre_dirs)
    for d in pre_dirs:
        assert not (table.location / d).exists()
    assert table.meta.get("snapshot_history") == []
    assert table.to_df(spark).count() == 90  # live set intact


def test_merge_on_read_delete(spark, table):
    """Predicate-delete snapshot: O(metadata) DELETE — no rewrite, the
    scan filters earlier rows; later appends unaffected; compact folds
    the predicate away."""
    s1 = table.snapshots[0]
    d = table.delete_where(spark, "grp = 3", strategy="merge_on_read")
    assert d.delete_predicate == "coalesce((grp = 3), false)"
    assert d.data_dir == ""
    out = table.to_df(spark)
    assert out.count() == 90 and out.filter("grp = 3").count() == 0
    # the original data dir was NOT rewritten
    assert (table.location / s1.data_dir).exists()
    # appends after the delete are untouched by it
    inc = spark.range(1000, 1010).select(
        F.col("id"), F.lit(3).alias("grp"), F.lit("new").alias("tag")
    )
    table.append(inc)
    assert table.to_df(spark).filter("grp = 3").count() == 10
    # time travel: before the delete, and exactly AT it
    assert table.to_df(spark, as_of_snapshot=s1.snapshot_id).count() == 100
    assert table.to_df(spark, as_of_snapshot=d.snapshot_id).count() == 90
    # predicate round-trips through metadata reload
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import LakeTable
    re = LakeTable.load(table.location)
    assert [s.delete_predicate for s in re.snapshots if s.delete_predicate] \
        == ["coalesce((grp = 3), false)"]
    assert re.to_df(spark).count() == 100
    # compact materializes: predicates gone, results identical
    table.compact(spark)
    assert len(table.snapshots) == 1
    assert table.snapshots[0].delete_predicate is None
    assert table.to_df(spark).count() == 100
    assert table.to_df(spark).filter("grp = 3 AND tag = 'old'").count() == 0


def test_merge_on_read_delete_guards(spark, table):
    """Surfaces that cannot honor a live predicate delete refuse it
    loudly instead of resurrecting rows."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
    )

    # an invalid predicate fails at commit time, not at scan time
    with pytest.raises(Exception):
        table.delete_where(spark, "no_such_col = 1", strategy="merge_on_read")
    s0 = table.snapshots[0]
    table.delete_where(spark, "grp = 1", strategy="merge_on_read")
    # v1 export (no delete-file representation) still refuses; the
    # default auto-upgrades to v2, which needs spark for the
    # position-delete computation
    with pytest.raises(RuntimeError, match="format_version=2"):
        export_to_iceberg(table, format_version=1)
    with pytest.raises(RuntimeError, match="spark"):
        export_to_iceberg(table)
    with pytest.raises(TableFormatError, match="compact"):
        table.stream_changes(spark)
    with pytest.raises(TableFormatError, match="non-append"):
        table.changes_between(spark, from_snapshot=s0.snapshot_id)
    # stacked predicates compose
    table.delete_where(spark, "grp = 2", strategy="merge_on_read")
    out = table.to_df(spark)
    assert out.count() == 80
    assert out.filter("grp IN (1, 2)").count() == 0


def test_expire_keeps_interior_predicate_tombstone(spark, table):
    """An expired interior predicate delete that a retained later
    snapshot still needs must survive as a tombstone — dropping it
    would resurrect the deleted rows in time travel and CDC."""
    table.delete_where(spark, "grp = 3", strategy="merge_on_read")
    a2 = table.append(
        spark.range(1000, 1005).select(
            F.col("id"), F.lit(9).alias("grp"), F.lit("new").alias("tag")
        )
    )
    table.compact(spark)  # a1, d, a2 -> history
    table.expire_snapshots(retain_last=1)  # a1 + d tombstoned, a2 kept
    hist = table.meta["snapshot_history"]
    assert [bool(s.get("expired")) for s in hist] == [True, True, False]
    # a2's reconstruction still applies the delete: no grp=3 rows
    tt = table.to_df(spark, as_of_snapshot=a2.snapshot_id)
    assert tt.count() == 95 and tt.filter("grp = 3").count() == 0


def test_drop_column_refused_under_live_predicate(spark, table):
    from pyspark.sql import types as T

    table.delete_where(spark, "grp = 1", strategy="merge_on_read")
    narrower = T.StructType(
        [f for f in table.schema.fields if f.name != "grp"]
    )
    with pytest.raises(TableFormatError, match="compact"):
        table.commit_schema(narrower)
    # adding a column is fine while predicates are live
    wider = T.StructType(
        list(table.schema.fields) + [T.StructField("note", T.StringType())]
    )
    table.commit_schema(wider)
    assert table.to_df(spark).count() == 90
    # log-source streaming refuses live predicates at start
    with pytest.raises(TableFormatError, match="compact"):
        table.stream_changes(spark)


def test_merge_on_read_update(spark, table):
    """MOR UPDATE: one append of the changed rows + a predicate mask,
    committed atomically — write cost follows the matched rows."""
    snap = table.update_where(
        spark, "grp = 3", {"tag": "'bumped'"}, strategy="merge_on_read"
    )
    assert snap.operation == "append"  # the data half of the pair
    live = table.snapshots
    # one predicate entry + one append entry landed in ONE commit
    # predicate stored pre-wrapped null-safe (NULL-condition rows live)
    assert [s.delete_predicate for s in live[-2:]] == [
        "coalesce((grp = 3), false)",
        None,
    ]
    out = table.to_df(spark)
    assert out.count() == 100  # row count preserved
    assert out.filter("grp = 3 AND tag = 'bumped'").count() == 10
    assert out.filter("grp = 3 AND tag = 'old'").count() == 0
    assert out.filter("grp <> 3 AND tag = 'old'").count() == 90
    # equivalent to the copy-on-write result after compaction
    table.compact(spark)
    out = table.to_df(spark)
    assert out.count() == 100
    assert out.filter("tag = 'bumped'").count() == 10


def test_merge_on_read_update_simultaneous_assignment(spark, table):
    """SET id = grp, grp = id must swap (simultaneous semantics), same
    as copy-on-write."""
    table.update_where(
        spark, "id = 13", {"id": "grp", "grp": "id"},
        strategy="merge_on_read",
    )
    swapped = table.to_df(spark).filter("id = 3 AND grp = 13").collect()
    assert len(swapped) == 1
    assert table.to_df(spark).filter("id = 13").count() == 0  # swapped away


def test_merge_on_read_update_predicate_validated_in_scan_form(spark, table):
    """The predicate must be validated in the exact NOT(...) string
    form the scan uses: an expr-valid predicate ending in a line
    comment (which swallows the closing paren) must fail at commit
    time, never wedge reads."""
    with pytest.raises(Exception):
        table.update_where(
            spark, "id = 1 -- x", {"tag": "'new'"},
            strategy="merge_on_read",
        )
    # nothing was committed; table still reads fine
    assert table.to_df(spark).count() == 100
    assert len(table.snapshots) == 1


def test_rollback_refuses_predicate_half_of_update_pair(spark, table):
    table.update_where(
        spark, "grp = 3", {"tag": "'bumped'"}, strategy="merge_on_read"
    )
    del_snap, app_snap = table.snapshots[-2], table.snapshots[-1]
    assert del_snap.delete_predicate and not app_snap.delete_predicate
    # same commit instant: timestamp travel can't observe the torn state
    assert del_snap.timestamp_ms == app_snap.timestamp_ms
    with pytest.raises(TableFormatError, match="atomic pair"):
        table.rollback_to_snapshot(del_snap.snapshot_id)
    # rolling back to the append half keeps the whole pair
    table.rollback_to_snapshot(app_snap.snapshot_id)
    out = table.to_df(spark)
    assert out.count() == 100
    assert out.filter("grp = 3 AND tag = 'bumped'").count() == 10


@pytest.fixture()
def null_table(spark, tmp_path):
    """Table whose predicate column contains NULLs — the three-valued-
    logic trap: NOT(col = 'v') is NULL (not TRUE) for NULL col."""
    cat = LakeCatalog(tmp_path / "whn")
    df = spark.range(0, 30).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("cat"),
        F.lit("old").alias("tag"),
    )
    t = cat.create_table("db", "nulls", df.schema)
    t.append(df)
    return t


@pytest.mark.parametrize("strategy", ["copy_on_write", "merge_on_read"])
def test_update_null_predicate_rows_survive(spark, null_table, strategy):
    """UPDATE WHERE cat = '1' must leave NULL-cat rows UNCHANGED under
    BOTH strategies (SQL semantics: act only where predicate IS TRUE).
    Regression: merge-on-read's scan mask NOT(cond) used to drop
    NULL-condition rows while the re-append kept only TRUE rows, so
    the NULL rows vanished entirely."""
    null_table.update_where(
        spark, "cat = '1'", {"tag": "'new'"}, strategy=strategy
    )
    out = null_table.to_df(spark)
    assert out.count() == 30  # no rows destroyed
    assert out.filter("cat IS NULL").count() == 10
    assert out.filter("cat IS NULL AND tag = 'old'").count() == 10
    assert out.filter("cat = '1' AND tag = 'new'").count() == 10
    assert out.filter("cat = '2' AND tag = 'old'").count() == 10


@pytest.mark.parametrize("strategy", ["copy_on_write", "merge_on_read"])
def test_delete_null_predicate_rows_survive(spark, null_table, strategy):
    """DELETE WHERE cat = '1' removes only predicate-TRUE rows; NULL-
    predicate rows are kept — identical answers from both strategies
    and from the DuckDB/ANSI DELETE the oracles run."""
    null_table.delete_where(spark, "cat = '1'", strategy=strategy)
    out = null_table.to_df(spark)
    assert out.count() == 20
    assert out.filter("cat IS NULL").count() == 10
    assert out.filter("cat = '1'").count() == 0


def test_update_strategies_agree_with_null_predicates(spark, tmp_path):
    """The two UPDATE strategies must be indistinguishable to readers,
    NULL predicates included."""
    cat = LakeCatalog(tmp_path / "whagree")
    mk = lambda: spark.range(0, 30).select(
        F.col("id"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("cat"),
        F.lit("old").alias("tag"),
    )
    a = cat.create_table("db", "cow", mk().schema)
    a.append(mk())
    b = cat.create_table("db", "mor", mk().schema)
    b.append(mk())
    a.update_where(spark, "cat = '2'", {"tag": "'upd'"})
    b.update_where(
        spark, "cat = '2'", {"tag": "'upd'"}, strategy="merge_on_read"
    )
    rows_a = sorted(map(tuple, a.to_df(spark).collect()))
    rows_b = sorted(map(tuple, b.to_df(spark).collect()))
    assert rows_a == rows_b


def test_expire_snapshots_requires_retention_policy(spark, table):
    table.delete_where(spark, "grp = 1")  # creates history
    with pytest.raises(TableFormatError, match="retention policy"):
        table.expire_snapshots()
    # history untouched by the refused call
    assert len(table.meta["snapshot_history"]) == 1


def test_mor_delete_restores_meta_on_failed_commit(spark, table, monkeypatch):
    """A failed _commit during merge-on-read DELETE must roll the
    in-memory meta back (else a retry double-bumps the sequence)."""
    seq_before = int(table.meta.get("last_sequence_number", 0))
    n_before = len(table.snapshots)

    def boom():
        raise OSError("disk full")

    monkeypatch.setattr(table, "_commit", boom)
    with pytest.raises(OSError):
        table.delete_where(spark, "grp = 1", strategy="merge_on_read")
    assert int(table.meta.get("last_sequence_number", 0)) == seq_before
    assert len(table.snapshots) == n_before


# -- merge-on-read MERGE (equality-delete key files) ----------------------


def _src(spark, lo, hi, tag="src"):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 10).alias("grp"), F.lit(tag).alias("tag")
    )


def test_mor_merge_upsert(spark, table):
    """write.merge.mode=merge-on-read: one equality-delete key file +
    one append of (updated ∪ inserted) rows, single commit; readers see
    exactly the copy-on-write answer."""
    snap = table.merge_into(
        spark, _src(spark, 50, 150), ["id"],
        when_matched_update={"tag": "'upd'"},
        strategy="merge_on_read",
    )
    assert snap.operation == "append"
    del_snap, app_snap = table.snapshots[-2], table.snapshots[-1]
    assert del_snap.delete_keys_dir and del_snap.delete_key_cols == ["id"]
    assert del_snap.data_dir == ""  # no table data in the mask entry
    assert del_snap.timestamp_ms == app_snap.timestamp_ms  # atomic pair
    df = table.to_df(spark)
    assert df.count() == 150
    assert df.filter("tag = 'upd'").count() == 50   # 50-99 updated
    assert df.filter("tag = 'src'").count() == 50   # 100-149 inserted
    assert df.filter("tag = 'old'").count() == 50   # 0-49 untouched
    # the original data dir was NOT rewritten
    assert (table.location / table.snapshots[0].data_dir).exists()
    # the key file holds exactly the 50 affected keys
    keys = spark.read.parquet(str(table.location / del_snap.delete_keys_dir))
    assert keys.count() == 50 and keys.columns == ["id"]


def test_mor_merge_matches_copy_on_write(spark, tmp_path):
    """Same conditional multi-clause MERGE on twin tables, one per
    strategy — byte-identical reader results."""
    cat = LakeCatalog(tmp_path / "whm")
    mk = lambda: _src(spark, 0, 100, "old")
    src = _src(spark, 50, 150)
    clauses = [
        ("s_id % 2 = 0", "update", {"tag": "'even'"}),
        ("grp = 7", "delete", None),
    ]
    a = cat.create_table("db", "cow", mk().schema); a.append(mk())
    b = cat.create_table("db", "mor", mk().schema); b.append(mk())
    a.merge_into(spark, src, ["id"], when_matched=clauses)
    b.merge_into(spark, src, ["id"], when_matched=clauses,
                 strategy="merge_on_read")
    ra = sorted(map(tuple, a.to_df(spark).collect()))
    rb = sorted(map(tuple, b.to_df(spark).collect()))
    assert ra == rb
    # and stays identical after the mask is folded away
    b.compact(spark)
    assert sorted(map(tuple, b.to_df(spark).collect())) == ra


def test_mor_merge_matched_delete_and_unfired_rows(spark, table):
    """Matched rows whose clauses all miss are untouched; fired deletes
    vanish; masks do not leak onto later appends."""
    src = spark.range(0, 40).select(F.col("id"))
    table.merge_into(
        spark, src, ["id"],
        when_matched=[("grp < 5", "delete", None)],
        insert_not_matched=False,
        strategy="merge_on_read",
    )
    df = table.to_df(spark)
    # ids 0-39: grp = id%10 < 5 → 20 deleted; 20 matched-unfired kept
    assert df.count() == 80
    assert df.filter("id < 40 AND grp < 5").count() == 0
    assert df.filter("id < 40 AND grp >= 5 AND tag = 'old'").count() == 20
    # appends after the merge are not masked even with matching keys
    table.append(_src(spark, 0, 10, "fresh"))
    assert table.to_df(spark).filter("tag = 'fresh'").count() == 10


def test_mor_merge_null_keys_never_match(spark, tmp_path):
    """NULL join keys never match (SQL equality), so NULL-key target
    rows are never masked by the equality-delete file."""
    cat = LakeCatalog(tmp_path / "whnk")
    df = spark.range(0, 20).select(
        F.when(F.col("id") < 5, None).otherwise(F.col("id")).alias("id"),
        F.lit("old").alias("tag"),
    )
    t = cat.create_table("db", "nk", df.schema)
    t.append(df)
    src = spark.range(0, 20).select(F.col("id"), F.lit("s").alias("tag"))
    t.merge_into(
        spark, src, ["id"], when_matched_update={"tag": "'upd'"},
        insert_not_matched=False, strategy="merge_on_read",
    )
    out = t.to_df(spark)
    assert out.count() == 20
    assert out.filter("id IS NULL AND tag = 'old'").count() == 5
    assert out.filter("tag = 'upd'").count() == 15


def test_mor_merge_guards_and_maintenance(spark, table):
    """Equality-delete entries get the full predicate-delete guard set:
    v1 export/stream/drop-column refuse; rollback to the mask half
    refuses; compact folds; expire + orphan-removal know the key dirs.
    (The DEFAULT export now succeeds as format v2 — test_iceberg_export
    covers the round-trip.)"""
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
    )
    import pyspark.sql.types as T

    table.merge_into(
        spark, _src(spark, 90, 110), ["id"],
        when_matched_update={"tag": "'u'"}, strategy="merge_on_read",
    )
    del_snap = table.snapshots[-2]
    assert del_snap.delete_keys_dir
    # v1 export still refuses (no delete files in v1); the default
    # auto-upgrades to a v2 export with equality-delete manifests
    with pytest.raises(RuntimeError, match="format_version=2"):
        export_to_iceberg(table, format_version=1)
    with pytest.raises(TableFormatError, match="compact"):
        table.stream_changes(spark)
    with pytest.raises(TableFormatError, match="atomic pair|delete"):
        table.rollback_to_snapshot(del_snap.snapshot_id)
    with pytest.raises(TableFormatError, match="compact"):
        table.commit_schema(
            T.StructType([f for f in table.schema.fields
                          if f.name != "grp"])
        )
    keys_dir = table.location / del_snap.delete_keys_dir
    assert keys_dir.exists()
    # orphan removal must NOT reap a referenced key dir
    assert table.remove_orphan_files() == []
    assert keys_dir.exists()
    # compact folds the mask; expire then reaps the key dir
    table.compact(spark)
    assert table.to_df(spark).count() == 110
    table.expire_snapshots(older_than_ms=2**62)
    assert not keys_dir.exists()


def test_mor_merge_restores_meta_on_failed_commit(spark, table, monkeypatch):
    seq_before = int(table.meta.get("last_sequence_number", 0))
    n_before = len(table.snapshots)

    def boom():
        raise OSError("disk full")

    monkeypatch.setattr(table, "_commit", boom)
    with pytest.raises(OSError):
        table.merge_into(
            spark, _src(spark, 0, 10), ["id"],
            when_matched_update={"tag": "'u'"}, strategy="merge_on_read",
        )
    assert int(table.meta.get("last_sequence_number", 0)) == seq_before
    assert len(table.snapshots) == n_before
    # the orphaned key + data dirs are reapable
    removed = table.remove_orphan_files()
    assert len(removed) == 2


def test_mor_merge_time_travel_pair_atomicity(spark, table):
    """Timestamp travel can never observe the torn mask-only state;
    travel to the append half sees the post-merge state."""
    s0 = table.snapshots[0]
    table.merge_into(
        spark, _src(spark, 0, 10), ["id"],
        when_matched_update={"tag": "'u'"},
        insert_not_matched=False, strategy="merge_on_read",
    )
    app = table.snapshots[-1]
    assert table.to_df(spark, as_of_snapshot=s0.snapshot_id).count() == 100
    post = table.to_df(spark, as_of_snapshot=app.snapshot_id)
    assert post.count() == 100
    assert post.filter("tag = 'u'").count() == 10


def test_mor_merge_sql_surface(spark, tmp_path):
    """MERGE INTO through the SQL frontend honors write.merge.mode."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend

    cat = LakeCatalog(tmp_path / "whsql")
    fe = DdlFrontend(spark, cat)
    fe.sql("CREATE TABLE db.t (id BIGINT, v STRING)")
    for i in range(4):
        fe.sql(f"INSERT INTO db.t VALUES ({i}, 'a')")
    fe.sql("ALTER TABLE db.t SET TBLPROPERTIES "
           "('write.merge.mode' = 'merge-on-read')")
    r = fe.sql(
        "MERGE INTO db.t USING "
        "(SELECT id, 'b' AS v FROM RANGE(2, 6)) ON (id) "
        "WHEN MATCHED THEN UPDATE SET v = s_v "
        "WHEN NOT MATCHED THEN INSERT"
    )
    assert not r.has_error, r.message_list
    assert "merge_on_read" in r.message_list[-1]
    tbl = cat.load_table("db", "t")
    assert any(s.delete_keys_dir for s in tbl.snapshots)
    got = {(row.id, row.v) for row in fe.query("SELECT * FROM db.t").collect()}
    assert got == {(0, "a"), (1, "a"), (2, "b"), (3, "b"), (4, "b"), (5, "b")}


# -- round 7: no-op skip, source materialization, commit-time manifests ----


def test_mor_merge_noop_commits_nothing(spark, table):
    """An all-miss MERGE (no clause fires, nothing inserts) must not
    commit: committing would add a permanent per-scan anti-join arm
    plus snapshot-log noise for a no-op."""
    n_before = len(table.snapshots)
    seq_before = table.meta["last_sequence_number"]
    snap = table.merge_into(
        spark, _src(spark, 500, 510), ["id"],
        when_matched_update={"tag": "'u'"},
        insert_not_matched=False, strategy="merge_on_read",
    )
    assert snap is None
    assert len(table.snapshots) == n_before
    assert table.meta["last_sequence_number"] == seq_before
    # the staged-but-uncommitted dirs are cleaned up, not left as orphans
    assert table.remove_orphan_files() == []
    assert table.to_df(spark).count() == 100


def test_mor_merge_insert_only_is_plain_append(spark, table):
    """A MERGE that only inserts commits ONE append snapshot — no
    empty equality-delete mask arm."""
    snap = table.merge_into(
        spark, _src(spark, 100, 110), ["id"],
        when_matched_update={"tag": "'u'"}, strategy="merge_on_read",
    )
    assert snap is not None and snap.operation == "append"
    assert not any(s.is_row_delete for s in table.snapshots)
    assert table.to_df(spark).count() == 110


def test_mor_merge_delete_only_commits_mask_only(spark, table):
    """A pure WHEN MATCHED DELETE commits ONLY the equality-delete
    snapshot (the re-append set is empty by construction)."""
    snap = table.merge_into(
        spark, _src(spark, 0, 10), ["id"],
        when_matched_delete=True, insert_not_matched=False,
        strategy="merge_on_read",
    )
    assert snap is not None and snap.delete_keys_dir
    assert table.snapshots[-1].delete_keys_dir
    assert table.to_df(spark).count() == 90
    assert table.to_df(spark).filter("id < 10").count() == 0


def test_mor_update_noop_commits_nothing(spark, table):
    n_before = len(table.snapshots)
    snap = table.update_where(
        spark, "id > 1000", {"tag": "'new'"}, strategy="merge_on_read"
    )
    assert snap is None
    assert len(table.snapshots) == n_before
    assert table.remove_orphan_files() == []
    assert table.to_df(spark).count() == 100


def test_mor_merge_nondeterministic_source_is_consistent(spark, table):
    """The MoR MERGE runs two Spark actions; a non-deterministic
    source must not let the key mask and the re-appended rows diverge
    (silent row loss). merge_into materializes the source once
    (localCheckpoint) and semi-joins against the WRITTEN key file."""
    src = (
        spark.range(0, 100)
        .filter(F.rand(seed=None) < 0.5)  # different rows per action
        .select(F.col("id"), F.lit("u").alias("tag"))
    )
    table.merge_into(
        spark, src, ["id"],
        when_matched_update={"tag": "s_tag"},
        insert_not_matched=False, strategy="merge_on_read",
    )
    df = table.to_df(spark)
    # every original row survives exactly once, updated or not
    assert df.count() == 100
    assert df.select("id").distinct().count() == 100


def test_commit_time_manifest_recorded_and_files_df_metadata_only(
    spark, table
):
    """Every commit records per-file (path, size, rows); files_df
    serves from that metadata with no data-plane listing."""
    table.append(
        spark.range(100, 120).select(
            F.col("id"), (F.col("id") % 10).alias("grp"),
            F.lit("b").alias("tag"),
        )
    )
    for s in table.snapshots:
        assert s.files is not None
        assert sum(f["record_count"] for f in s.files) > 0
    fdf = table.files_df(spark)
    rows = {r.file_path: r for r in fdf.collect()}
    assert sum(r.record_count for r in rows.values()) == 120
    # metadata round-trips through commit + reload
    reloaded = type(table).load(table.location)
    assert [s.files for s in reloaded.snapshots] == [
        s.files for s in table.snapshots
    ]
    # the stored paths exist and sizes match the data plane
    for p, r in rows.items():
        full = table.location / p
        assert full.exists() and full.stat().st_size == r.size_bytes


def test_equality_delete_broadcast_is_size_gated(spark, table, monkeypatch):
    """Scan results are identical whether the key file broadcasts or
    falls back to AQE's strategy choice (threshold forced to 0)."""
    import sample_iceberg_schema_evolution_pyiceberg_spark.table_format as tf

    table.merge_into(
        spark, _src(spark, 0, 10), ["id"],
        when_matched_delete=True, insert_not_matched=False,
        strategy="merge_on_read",
    )
    expected = {r.id for r in table.to_df(spark).select("id").collect()}
    monkeypatch.setattr(tf, "_BROADCAST_KEYFILE_MAX_BYTES", 0)
    got = {r.id for r in table.to_df(spark).select("id").collect()}
    assert got == expected == set(range(10, 100))


def test_mor_scan_plan_width_many_uncompacted_snapshots(spark, tmp_path):
    """The scan builds one DataFrame arm per data snapshot and applies
    every LATER delete mask per arm — driver-side plan size is
    O(#data-snapshots x #delete-entries since the last compaction).
    ~50 un-compacted merge-on-read snapshots (25 append + 24 predicate
    deletes + 1 equality mask pair) must still plan, answer exactly,
    and fold flat under compact(). The documented contract is
    compaction cadence bounds plan width (SCALE.md), same as Iceberg's
    rewrite_data_files; this test pins the 50-snapshot point of that
    bound."""
    from pyspark.sql import functions as F

    cat = LakeCatalog(tmp_path / "wh")
    df0 = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 5).alias("grp"),
        F.lit("w0").alias("tag"),
    )
    table = cat.create_table("db", "wide", df0.schema)
    table.append(df0.coalesce(1))
    # waves 1..24: append 20 rows, then predicate-delete one grp slice
    # of everything EARLIER (three-valued logic exercised via the tag)
    for w in range(1, 25):
        table.append(
            spark.range(w * 20, (w + 1) * 20).select(
                F.col("id"), (F.col("id") % 5).alias("grp"),
                F.lit(f"w{w}").alias("tag"),
            ).coalesce(1)
        )
        table.delete_where(
            spark, f"grp = {w % 5} AND tag = 'w{w - 1}'",
            strategy="merge_on_read",
        )
    # one equality-delete pair on top
    table.merge_into(
        spark,
        spark.range(0, 10).select(F.col("id"), F.lit("m").alias("tag")),
        ["id"],
        when_matched_update={"tag": "s_tag"},
        insert_not_matched=False,
        strategy="merge_on_read",
    )
    n_snaps = len(table.snapshots)
    assert n_snaps >= 50, n_snaps
    # oracle: replay the same waves in plain DataFrame land
    state = df0
    for w in range(1, 25):
        nxt = spark.range(w * 20, (w + 1) * 20).select(
            F.col("id"), (F.col("id") % 5).alias("grp"),
            F.lit(f"w{w}").alias("tag"),
        )
        state = state.filter(
            f"NOT coalesce(grp = {w % 5} AND tag = 'w{w - 1}', false)"
        ).unionByName(nxt)
    state = state.withColumn(
        "tag", F.when(F.col("id") < 10, F.lit("m")).otherwise(F.col("tag"))
    )
    want = sorted(tuple(r) for r in state.collect())
    got = sorted(tuple(r) for r in table.to_df(spark).collect())
    assert got == want
    # compact() folds all 25 masks; the answer is invariant and the
    # live set is one snapshot again
    table.compact(spark)
    assert len(table.snapshots) == 1
    got2 = sorted(tuple(r) for r in table.to_df(spark).collect())
    assert got2 == want
