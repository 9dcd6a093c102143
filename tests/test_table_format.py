"""Lake table format: snapshots, time travel, compaction, overwrite
visibility, multi-append scan grouping."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    LakeTable,
    TableFormatError,
)


@pytest.fixture()
def catalog(tmp_path):
    return LakeCatalog(tmp_path / "wh")


def _mk(spark, catalog, name="t1"):
    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    table = catalog.create_table("db", name, df.schema)
    return table, df


def test_multi_append_and_snapshot_log(spark, catalog):
    table, df = _mk(spark, catalog)
    s1 = table.append(df)
    s2 = table.append(df.filter("id < 10"))
    assert [s.snapshot_id for s in table.snapshots] == [
        s1.snapshot_id, s2.snapshot_id,
    ]
    assert table.to_df(spark).count() == 110


def test_time_travel_by_snapshot(spark, catalog):
    table, df = _mk(spark, catalog)
    s1 = table.append(df)
    table.append(df.filter("id < 10"))
    assert table.to_df(spark, as_of_snapshot=s1.snapshot_id).count() == 100
    with pytest.raises(TableFormatError):
        table.to_df(spark, as_of_snapshot="nope")


def test_overwrite_replaces_live_set(spark, catalog):
    table, df = _mk(spark, catalog)
    table.append(df)
    s2 = table.overwrite(df.filter("id >= 90"))
    assert table.to_df(spark).count() == 10
    assert [s.snapshot_id for s in table.snapshots] == [s2.snapshot_id]


def test_compact_merges_snapshots_and_keeps_history(spark, catalog):
    table, df = _mk(spark, catalog)
    s1 = table.append(df.filter("id < 40"))
    table.append(df.filter("id >= 40"))
    before = table.to_df(spark).agg(F.sum("id")).first()[0]
    table.compact(spark)
    assert len(table.snapshots) == 1
    after = table.to_df(spark).agg(F.sum("id")).first()[0]
    assert before == after
    # history retained: time travel to pre-compaction snapshot works
    assert table.to_df(spark, as_of_snapshot=s1.snapshot_id).count() == 40


def test_sorted_compaction_clusters_files(spark, catalog):
    """compact(sort_by=...) must range-cluster rows across files and
    sort within each file — the min/max-statistics layout that lets
    range predicates skip files at scan time."""
    import pyarrow.parquet as pq

    table, df = _mk(spark, catalog)
    # three shuffled appends so the pre-compaction layout is unclustered
    table.append(df.filter("id % 3 = 0"))
    table.append(df.filter("id % 3 = 1"))
    table.append(df.filter("id % 3 = 2"))
    before = sorted(r["id"] for r in table.to_df(spark).collect())
    table.compact(spark, sort_by=["id"])
    assert [f["column"] for f in table.sort_order_fields] == ["id"]
    # an explicit sort_by (re)declares: mirrored into the property
    assert table.properties["write.sort-order"] == "id"
    after = sorted(r["id"] for r in table.to_df(spark).collect())
    assert after == before

    snap_dir = table.location / table.snapshots[0].data_dir
    ranges = []
    for f in sorted(snap_dir.rglob("*.parquet")):
        ids = pq.read_table(f, columns=["id"])["id"].to_pylist()
        if not ids:
            continue
        assert ids == sorted(ids), f"{f} not sorted within file"
        ranges.append((min(ids), max(ids)))
    assert ranges
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi <= lo, f"file ranges overlap: {ranges}"


def test_scan_after_refresh_sees_other_writer(spark, catalog):
    table, df = _mk(spark, catalog)
    table.append(df)
    # a second handle (separate metadata load) appends
    other = catalog.load_table("db", "t1")
    other.append(df.filter("id < 5"))
    # stale handle still sees 100; refresh picks up the commit
    assert table.to_df(spark).count() == 100
    assert table.refresh().to_df(spark).count() == 105


def test_changes_between_appends(spark, catalog):
    table, df = _mk(spark, catalog, "inc1")
    s1 = table.append(df.filter("id < 30"))
    s2 = table.append(df.filter("id >= 30 AND id < 60"))
    s3 = table.append(df.filter("id >= 60"))
    # (s1, s3] = batches 2+3, tagged per snapshot
    inc = table.changes_between(
        spark, from_snapshot=s1.snapshot_id, to_snapshot=s3.snapshot_id
    )
    assert sorted(r.id for r in inc.collect()) == list(range(30, 100))
    tags = {
        (r._snapshot_id, r._change_type) for r in inc.select(
            "_snapshot_id", "_change_type").distinct().collect()
    }
    assert tags == {(s2.snapshot_id, "insert"), (s3.snapshot_id, "insert")}
    # default range = whole history; empty range = zero rows, same schema
    assert table.changes_between(spark).count() == 100
    empty = table.changes_between(
        spark, from_snapshot=s3.snapshot_id, to_snapshot=s3.snapshot_id
    )
    assert empty.count() == 0
    assert empty.columns == inc.columns


def test_changes_between_rejects_overwrite_crossing(spark, catalog):
    table, df = _mk(spark, catalog, "inc2")
    s1 = table.append(df.filter("id < 50"))
    table.append(df.filter("id >= 50"))
    table.compact(spark)
    with pytest.raises(TableFormatError, match="non-append"):
        table.changes_between(spark, from_snapshot=s1.snapshot_id)
    # both endpoints before the overwrite still work (history-served)
    pre = table.changes_between(
        spark,
        from_snapshot=s1.snapshot_id,
        to_snapshot=table.meta["snapshot_history"][-1]["snapshot_id"],
    )
    assert sorted(r.id for r in pre.collect()) == list(range(50, 100))
    with pytest.raises(TableFormatError, match="unknown from"):
        table.changes_between(spark, from_snapshot="nope")


def test_changes_between_ordering_guard(spark, catalog):
    table, df = _mk(spark, catalog, "inc3")
    s1 = table.append(df.filter("id < 10"))
    s2 = table.append(df.filter("id >= 10 AND id < 20"))
    with pytest.raises(TableFormatError, match="precedes"):
        table.changes_between(
            spark, from_snapshot=s2.snapshot_id, to_snapshot=s1.snapshot_id
        )


def test_expire_snapshots_bounds_time_travel(spark, catalog):
    table, df = _mk(spark, catalog, "exp1")
    s1 = table.append(df.filter("id < 50"))
    s2 = table.append(df.filter("id >= 50"))
    table.compact(spark)  # s1, s2 move to history; live = 1 overwrite
    # both historical reads work pre-expiry
    assert table.to_df(spark, as_of_snapshot=s1.snapshot_id).count() == 50
    expired = table.expire_snapshots(retain_last=1)
    assert expired == [s1.snapshot_id]  # newest history entry retained
    # expired id is now unreadable, loudly...
    with pytest.raises(TableFormatError, match="expired snapshot"):
        table.to_df(spark, as_of_snapshot=s1.snapshot_id)
    # ...but the retained s2's state still NEEDS s1's rows (log-
    # structured lineage), so s1 survives as a tombstone with its dir
    assert table.to_df(spark, as_of_snapshot=s2.snapshot_id).count() == 100
    assert (table.location / s1.data_dir).exists()
    assert table.to_df(spark).count() == 100
    # expiring s2 as well releases the whole segment: dirs deleted,
    # tombstones dropped, fresh load sees empty history
    assert table.expire_snapshots(older_than_ms=2**62) == [s2.snapshot_id]
    assert not (table.location / s1.data_dir).exists()
    assert not (table.location / s2.data_dir).exists()
    assert table.to_df(spark).count() == 100  # live set untouched
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import LakeTable
    # empty history serializes as an absent key
    assert not LakeTable.load(table.location).meta.get("snapshot_history")


def test_expire_snapshots_tombstone_serves_changes_between(spark, catalog):
    """An interior tombstone stays a valid delta contributor; expired
    ENDPOINTS are refused."""
    table, df = _mk(spark, catalog, "exp3")
    s1 = table.append(df.filter("id < 30"))
    s2 = table.append(df.filter("id >= 30 AND id < 60"))
    s3 = table.append(df.filter("id >= 60"))
    table.compact(spark)
    table.expire_snapshots(retain_last=2)  # s1 tombstoned, s2/s3 kept
    with pytest.raises(TableFormatError, match="expired from snapshot"):
        table.changes_between(spark, from_snapshot=s1.snapshot_id,
                              to_snapshot=s3.snapshot_id)
    # interior s2 (retained here) range works; s2..s3 delta intact
    got = table.changes_between(
        spark, from_snapshot=s2.snapshot_id, to_snapshot=s3.snapshot_id
    )
    assert sorted(r.id for r in got.collect()) == list(range(60, 100))


def test_expire_snapshots_age_cutoff(spark, catalog):
    table, df = _mk(spark, catalog, "exp2")
    table.append(df.filter("id < 50"))
    table.append(df.filter("id >= 50"))
    table.compact(spark)
    hist = table.meta["snapshot_history"]
    cutoff = hist[0]["timestamp_ms"] + 1  # only the first entry is older
    expired = table.expire_snapshots(older_than_ms=cutoff)
    assert expired == [hist[0]["snapshot_id"]]
    # first entry tombstoned (the retained second still needs its dir)
    assert [bool(s.get("expired")) for s in table.meta["snapshot_history"]] \
        == [True, False]


def test_remove_orphan_files(spark, catalog):
    table, df = _mk(spark, catalog, "orph1")
    table.append(df)
    # simulate a failed write: a data dir with no metadata commit
    stray = table.location / "data" / "snap-deadbeef00000000"
    df.limit(3).write.parquet(str(stray))
    removed = table.remove_orphan_files()
    assert removed == ["data/snap-deadbeef00000000"]
    assert not stray.exists()
    # committed data untouched
    assert table.to_df(spark).count() == 100
    assert table.remove_orphan_files() == []  # idempotent


def test_remove_orphan_files_from_stale_handle(spark, catalog):
    """A handle loaded before another handle's append must not reap
    the dir that append committed: the referenced set includes the
    committed metadata, not only the stale handle's entries."""
    table, df = _mk(spark, catalog, "orph_stale")
    table.append(df)
    a = LakeTable.load(table.location)
    b = LakeTable.load(table.location)
    b.append(df)
    assert a.remove_orphan_files() == []
    assert LakeTable.load(table.location).to_df(spark).count() == 200


def test_plain_overwrite_keeps_history(spark, catalog):
    """overwrite()'s docstring promise: old snapshots move to history
    (time travel + the snapshots metadata table keep working), same as
    compact and row-level DML."""
    table, df = _mk(spark, catalog, "ow1")
    s1 = table.append(df.filter("id < 40"))
    table.overwrite(df.filter("id >= 40"))
    assert [s["snapshot_id"] for s in table.meta["snapshot_history"]] \
        == [s1.snapshot_id]
    assert table.to_df(spark, as_of_snapshot=s1.snapshot_id).count() == 40
    assert table.to_df(spark).count() == 60
    ops = {(r.operation, r.is_live) for r in table.snapshots_df(spark).collect()}
    assert ops == {("append", False), ("overwrite", True)}


def test_rollback_to_snapshot(spark, catalog):
    table, df = _mk(spark, catalog, "rb1")
    s1 = table.append(df.filter("id < 30"))
    s2 = table.append(df.filter("id >= 30 AND id < 60"))
    s3 = table.append(df.filter("id >= 60"))
    table.rollback_to_snapshot(s2.snapshot_id)
    # current state restored to s2; the abandoned fork (s3) is GONE
    assert sorted(r.id for r in table.to_df(spark).collect()) \
        == list(range(60))
    assert [s.snapshot_id for s in table.snapshots] \
        == [s1.snapshot_id, s2.snapshot_id]
    assert not (table.location / s3.data_dir).exists()
    with pytest.raises(TableFormatError, match="unknown snapshot"):
        table.to_df(spark, as_of_snapshot=s3.snapshot_id)
    # new lineage continues cleanly from the restored state
    table.append(df.filter("id >= 90"))
    assert table.to_df(spark).count() == 70
    assert table.to_df(spark, as_of_snapshot=s2.snapshot_id).count() == 60


def test_rollback_across_compaction(spark, catalog):
    table, df = _mk(spark, catalog, "rb2")
    s1 = table.append(df.filter("id < 50"))
    table.append(df.filter("id >= 50"))
    c = table.compact(spark)
    # roll back past the compaction to the first append
    table.rollback_to_snapshot(s1.snapshot_id)
    assert table.to_df(spark).count() == 50
    assert not (table.location / c.data_dir).exists()
    assert table.meta.get("snapshot_history") == []
    # rollback target must be readable: tombstoned targets refuse
    table.append(df.filter("id >= 50"))
    table.compact(spark)
    expired = table.expire_snapshots(retain_last=1)  # older -> tombstone
    with pytest.raises(TableFormatError, match="expired"):
        table.rollback_to_snapshot(expired[0])


def test_rollback_refuses_to_remove_ref_pinned_snapshots(spark, catalog):
    """Tags and branches pin their snapshots (as against expiration):
    a rollback that would remove one refuses, naming the ref, and
    changes nothing."""
    table, df = _mk(spark, catalog, "rb3")
    a1 = table.append(df.filter("id < 50"))
    a2 = table.append(df.filter("id >= 50"))
    table.create_tag("keep", a2.snapshot_id)
    table.create_branch("wap")
    with pytest.raises(TableFormatError, match="tag 'keep'.*branch 'wap'"):
        table.rollback_to_snapshot(a1.snapshot_id)
    assert (table.location / a2.data_dir).exists()
    assert [s.snapshot_id for s in table.snapshots] \
        == [a1.snapshot_id, a2.snapshot_id]
    assert table.to_df(spark, as_of_snapshot="keep").count() == 100
    assert table.to_df(spark, branch="wap").count() == 100
    # the branch alone still pins a2
    table.drop_tag("keep")
    with pytest.raises(TableFormatError, match="branch 'wap'"):
        table.rollback_to_snapshot(a1.snapshot_id)
    table.drop_branch("wap")
    table.rollback_to_snapshot(a1.snapshot_id)
    assert table.to_df(spark).count() == 50
    assert not (table.location / a2.data_dir).exists()


@pytest.mark.parametrize("kind", ["equality_keys", "positions"])
def test_rollback_removes_merge_on_read_delete_dirs(spark, catalog, kind):
    """Rolling back past a merge-on-read MERGE (equality-key dir) or a
    position delete (pos dir) deletes that dir with the fork."""
    table, df = _mk(spark, catalog, f"rb_{kind}")
    a1 = table.append(df)
    if kind == "equality_keys":
        table.merge_into(
            spark, df.filter("id < 10"), ["id"],
            when_matched_update={"k": "k + 100"}, strategy="merge_on_read",
        )
        mask_dir = next(
            s for s in table.snapshots if s.delete_keys_dir
        ).delete_keys_dir
    else:
        mask_dir = table.delete_where(
            spark, "k = 3", strategy="merge_on_read_position"
        ).delete_pos_dir
    assert mask_dir and (table.location / mask_dir).exists()
    table.rollback_to_snapshot(a1.snapshot_id)
    assert not (table.location / mask_dir).exists()
    assert table.remove_orphan_files() == []
    assert sorted(map(tuple, table.to_df(spark).collect())) \
        == sorted(map(tuple, df.collect()))


def test_time_travel_by_timestamp(spark, catalog):
    table, df = _mk(spark, catalog, "ts1")
    s1 = table.append(df.filter("id < 30"))
    s2 = table.append(df.filter("id >= 30"))
    # at s1's commit instant -> s1's state; at s2's -> full state
    assert table.to_df(
        spark, as_of_timestamp_ms=s1.timestamp_ms
    ).count() == 30
    assert table.to_df(
        spark, as_of_timestamp_ms=s2.timestamp_ms + 10_000
    ).count() == 100
    with pytest.raises(TableFormatError, match="no snapshot at or before"):
        table.to_df(spark, as_of_timestamp_ms=s1.timestamp_ms - 10_000)
    with pytest.raises(TableFormatError, match="not both"):
        table.to_df(
            spark,
            as_of_snapshot=s1.snapshot_id,
            as_of_timestamp_ms=s1.timestamp_ms,
        )


def test_files_df_serves_from_manifests_no_footer_reads(
    spark, catalog, monkeypatch
):
    """files_df must answer purely from the commit-time manifests in
    snapshot metadata — zero parquet footer reads at query time (the
    Iceberg manifest-stats pattern; a store-backed lake needs no
    data-plane listing)."""
    import pyarrow.parquet as pq
    from pyspark.sql import Row
    from pyspark.sql import types as T

    table = catalog.create_table(
        "db", "mf",
        T.StructType([T.StructField("v", T.LongType(), True)]),
    )
    table.append(spark.createDataFrame([Row(v=1), Row(v=2)]))
    table.append(spark.createDataFrame([Row(v=3)]))

    def boom(*_a, **_k):
        raise AssertionError("files_df must not read parquet footers")

    monkeypatch.setattr(pq, "read_metadata", boom)
    rows = table.files_df(spark).collect()
    assert sum(r.record_count for r in rows) == 3
    assert all(r.size_bytes > 0 for r in rows)


# ---------------------------------------------------------------------------
# Manifest column bounds + scan-time file pruning
# ---------------------------------------------------------------------------


def test_file_may_match_bound_logic():
    """The skip test may answer False only on PROOF of emptiness:
    operators at the boundary, missing stats, unknown ops, and
    incomparable literals must all keep the file."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _file_may_match,
    )

    stats = {"id": [10, 20], "v": ["bb", "dd"]}
    assert _file_may_match(stats, "id", "=", 10)
    assert _file_may_match(stats, "id", "=", 20)
    assert not _file_may_match(stats, "id", "=", 9)
    assert not _file_may_match(stats, "id", "=", 21)
    assert _file_may_match(stats, "id", ">", 19)
    assert not _file_may_match(stats, "id", ">", 20)
    assert _file_may_match(stats, "id", ">=", 20)
    assert not _file_may_match(stats, "id", ">=", 21)
    assert _file_may_match(stats, "id", "<", 11)
    assert not _file_may_match(stats, "id", "<", 10)
    assert _file_may_match(stats, "id", "<=", 10)
    assert not _file_may_match(stats, "id", "<=", 9)
    assert not _file_may_match(stats, "v", "<", "bb")
    assert _file_may_match(stats, "v", "=", "cc")
    # conservative answers
    assert _file_may_match(stats, "missing", "=", 1)
    assert _file_may_match({}, "id", "=", 1)
    assert _file_may_match(stats, "id", "!=", 10)  # unknown op
    assert _file_may_match(stats, "id", "=", "not-an-int")  # TypeError


def test_file_may_match_nan_soundness():
    """Float/double bounds describe only the non-NaN rows (parquet
    footers exclude NaN from min/max) while Spark orders NaN above
    every value: upper-bound refutations of >/>= must keep the file,
    lower-bound and equality refutations stay live, and a NaN literal
    never prunes anything (Spark: ``col < NaN`` is true for every
    non-NaN row; Python: every NaN comparison is False, which would
    otherwise read as proof of emptiness)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _file_may_match,
    )

    nan = float("nan")
    fstats = {"x": [1.0, 2.0]}
    # a hidden NaN row would satisfy > / >= — bounds are not proof
    assert _file_may_match(fstats, "x", ">", 5.0)
    assert _file_may_match(fstats, "x", ">=", 5.0)
    # NaN satisfies no < / <= and equals only NaN: these stay sound
    assert not _file_may_match(fstats, "x", "<", 1.0)
    assert not _file_may_match(fstats, "x", "<=", 0.5)
    assert not _file_may_match(fstats, "x", "=", 5.0)
    assert not _file_may_match(fstats, "x", "in", [5.0, 7.0])
    assert _file_may_match(fstats, "x", "=", 1.5)
    # NaN literals: conservative on every op and every column type
    istats = {"id": [10, 20]}
    for st, col in ((fstats, "x"), (istats, "id")):
        for op in ("=", "<", "<=", ">", ">="):
            assert _file_may_match(st, col, op, nan)
        assert _file_may_match(st, col, "in", [nan])
    # int/str bounds keep full two-sided pruning
    assert not _file_may_match(istats, "id", ">", 20)


def test_scan_pruning_keeps_nan_rows(spark, tmp_path):
    """End to end (the ADVICE r7 scenario): a file whose float column
    holds [1.0, NaN, 2.0] records footer bounds [1.0, 2.0]; a pruned
    scan for ``x > 5.0`` must still return the NaN row — pruning is
    never a filter."""
    import math

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.createDataFrame(
        [(1, 1.0), (2, float("nan")), (3, 2.0)], "id int, x double"
    ).coalesce(1)
    table = LakeCatalog(tmp_path / "wh").create_table("db", "nantab", df.schema)
    table.append(df)
    got = table.to_df(spark, pruning=[("x", ">", 5.0)]).collect()
    assert [r.id for r in got] == [2]
    assert math.isnan(got[0].x)
    # sound refutations still prune on the same table
    assert table.to_df(spark, pruning=[("x", "<", 0.5)]).count() == 0
    assert table.to_df(spark, pruning=[("x", "=", 5.0)]).count() == 0


def test_footer_column_bounds_types_and_nulls(tmp_path):
    """Bounds come only from columns every row group can vouch for:
    all-null columns and non-JSON-safe types drop out; multi-row-group
    files aggregate to the global min/max."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _footer_column_bounds,
    )

    tbl = pa.table(
        {
            "i": pa.array([5, 1, 9, 3], pa.int64()),
            "s": pa.array(["m", "a", "z", "k"]),
            "f": pa.array([2.5, 1.5, 3.5, 0.5], pa.float64()),
            "nul": pa.array([None, None, None, None], pa.int64()),
            "ts": pa.array([None, None, None, None], pa.timestamp("us")),
        }
    )
    p = tmp_path / "b.parquet"
    pq.write_table(tbl, p, row_group_size=2)  # 2 row groups
    md = pq.read_metadata(p)
    assert md.num_row_groups == 2
    bounds = _footer_column_bounds(md)
    assert bounds["i"] == [1, 9]
    assert bounds["s"] == ["a", "z"]
    assert bounds["f"] == [0.5, 3.5]
    assert "nul" not in bounds  # no min/max stats for all-null
    assert "ts" not in bounds


def test_scan_prunes_files_by_manifest_bounds(spark, tmp_path):
    """End to end: range-clustered files + a simple predicate scan
    must (a) return exactly the filtered rows, (b) touch strictly
    fewer files than a full scan, (c) skip the arm entirely when the
    bounds prove it empty — all decided from commit-time manifests,
    no footer re-reads at scan time."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    table = LakeCatalog(tmp_path / "wh").create_table(
        "db", "pr", df.schema
    )
    # range-clustered write: files carry disjoint id ranges (the
    # layout a sorted compaction / write-ordering produces)
    table.append(df.filter("id < 200").repartitionByRange(4, "id"))
    table.append(df.filter("id >= 200").repartitionByRange(4, "id"))
    total_files = sum(len(s.files) for s in table.snapshots)
    assert total_files == 8

    full = table.to_df(spark)
    pruned = table.to_df(spark, pruning=[("id", ">=", 350)])
    assert sorted(r.id for r in pruned.collect()) == list(range(350, 400))
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # second append's earlier files also skip: at most 2 of 8 survive
    # (the >=350 range spans at most one file per append + boundary)
    assert len(pruned.inputFiles()) <= 2

    # bounds-proven-empty scan: no Spark read at all (nullability
    # follows the declared schema, as on the existing empty-table path)
    empty = table.to_df(spark, pruning=[("id", ">", 10_000)])
    assert empty.count() == 0
    assert [(f.name, f.dataType) for f in empty.schema.fields] == [
        (f.name, f.dataType) for f in full.schema.fields
    ]

    # conjunction prunes on both columns' evidence
    both = table.to_df(
        spark, pruning=[("id", ">=", 100), ("id", "<", 150)]
    )
    assert sorted(r.id for r in both.collect()) == list(range(100, 150))


def test_metadata_metrics_selectors(spark, tmp_path):
    """write.metadata.metrics (Iceberg's metrics config): default mode
    plus per-column overrides pick which columns carry manifest bounds.
    default=none + one named full column -> only that column has stats;
    pruning on it still skips files, pruning on an unselected column
    conservatively keeps everything (missing stats == cannot prune).
    Named columns bypass the width cap; bad values are rejected."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 400).select(
        F.col("id"), (F.col("id") % 7).alias("k"),
        (F.col("id") * 2).alias("v"),
    )
    cat = LakeCatalog(tmp_path / "wh")
    table = cat.create_table(
        "db", "mm", df.schema,
        properties={
            "write.metadata.metrics.default": "none",
            "write.metadata.metrics.column.id": "full",
        },
    )
    table.append(df.repartitionByRange(4, "id"))
    stats_cols = {
        c for s in table.snapshots for f in s.files for c in f["stats"]
    }
    assert stats_cols == {"id"}

    pruned = table.to_df(spark, pruning=[("id", ">=", 350)])
    assert sorted(r.id for r in pruned.collect()) == list(range(350, 400))
    assert len(pruned.inputFiles()) < 4
    # unselected column: no stats -> keep every file, rows still exact
    unpruned = table.to_df(spark, pruning=[("v", ">=", 700)])
    assert sorted(r.id for r in unpruned.collect()) == list(range(350, 400))
    assert len(unpruned.inputFiles()) == 4

    # truncate(16) — real Iceberg's default — is ACCEPTED since r10
    # (a property set copied from a genuine Iceberg table must not
    # hard-fail the append; modes test: test_metrics_modes_counts_and_
    # truncate); a genuinely unknown mode still fails loudly
    bad = cat.create_table(
        "db", "mm_bad", df.schema,
        properties={"write.metadata.metrics.default": "bounds-ish"},
    )
    with pytest.raises(TableFormatError):
        bad.append(df)


def test_scan_pruning_composes_with_hidden_partitions(spark, tmp_path):
    """File bounds + manifest partition-tuple pruning on the same
    scan: identical rows to the unpruned filter, and the read of the
    surviving manifest files keeps the partition source columns."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 300).select(
        F.col("id"),
        (F.col("id") % 3).alias("bucket"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
    )
    spec = PartitionSpec(
        (PartitionField("bucket", "identity", "bucket", 1001),)
    )
    table = LakeCatalog(tmp_path / "wh").create_table(
        "db", "pp", df.schema, spec
    )
    table.append(df.repartitionByRange(3, "id"))
    pruned = table.to_df(
        spark, pruning=[("bucket", "=", 1), ("id", "<", 100)]
    )
    expect = sorted(
        (r.id, r.bucket, r.v)
        for r in df.filter("bucket = 1 AND id < 100").collect()
    )
    got = sorted((r.id, r.bucket, r.v) for r in pruned.collect())
    assert got == expect
    full = table.to_df(spark)
    assert len(pruned.inputFiles()) < len(full.inputFiles())


def test_sorted_compaction_enables_file_skips(spark, tmp_path):
    """The full Iceberg maintenance story: interleaved appends (every
    file spans the whole key range — nothing prunable), then
    compact(sort_by) range-clusters the layout, and the SAME predicate
    scan now plans a strict file subset. Also pins files_df's
    lower/upper bound columns against the data."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 400).select(F.col("id"))
    table = LakeCatalog(tmp_path / "wh").create_table("db", "sc", df.schema)
    # round-robin layout: each file's [min,max] covers ~the full range
    table.append(df.filter("id % 2 = 0").repartition(4))
    table.append(df.filter("id % 2 = 1").repartition(4))
    before = table.to_df(spark, pruning=[("id", ">=", 350)])
    assert len(before.inputFiles()) == 8  # nothing prunable

    table.compact(spark, sort_by=["id"], target_files=8)
    after = table.to_df(spark, pruning=[("id", ">=", 350)])
    assert sorted(r.id for r in after.collect()) == list(range(350, 400))
    full_after = table.to_df(spark)
    assert len(after.inputFiles()) < len(full_after.inputFiles())

    # files_df exposes the bounds that made the skip decidable
    fdf = table.files_df(spark)
    rows = fdf.select("file_path", "lower_bounds", "upper_bounds").collect()
    assert all(r.lower_bounds is not None for r in rows)
    ids = sorted(
        (int(r.lower_bounds["id"]), int(r.upper_bounds["id"])) for r in rows
    )
    assert ids[0][0] == 0 and ids[-1][1] == 399
    # sorted layout = pairwise-disjoint file ranges
    for (lo1, hi1), (lo2, _hi2) in zip(ids, ids[1:]):
        assert hi1 < lo2


def test_pruned_scan_parity_sweep(spark, tmp_path):
    """Parity sweep: for every supported operator and a lattice of
    literals (inside, outside, and exactly at file boundaries), the
    pruned scan must return EXACTLY the rows of the unpruned filter —
    the invariant that makes pruning an optimization, not a filter."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 240).select(F.col("id"))
    table = LakeCatalog(tmp_path / "wh").create_table("db", "sw", df.schema)
    table.append(df.filter("id < 120").repartitionByRange(3, "id"))
    table.append(df.filter("id >= 120").repartitionByRange(3, "id"))
    # file boundaries fall at multiples of ~40; probe at, around, and
    # far past them
    spark_ops = {"=": "=", ">": ">", ">=": ">=", "<": "<", "<=": "<="}
    for op, sql_op in spark_ops.items():
        for lit in (0, 39, 40, 41, 80, 119, 120, 121, 239, 240, -5):
            pruned = table.to_df(spark, pruning=[("id", op, lit)])
            expect = sorted(
                r.id for r in df.filter(f"id {sql_op} {lit}").collect()
            )
            got = sorted(r.id for r in pruned.collect())
            assert got == expect, (op, lit)


def test_pruned_scan_in_list(spark, tmp_path):
    """IN-list pruning across all three layers: file bounds keep only
    files holding SOME member, hidden partitions prune directories,
    and rows filter to exact membership."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = spark.range(0, 240).select(
        F.col("id"), (F.col("id") % 4).alias("b")
    )
    table = LakeCatalog(tmp_path / "wh").create_table("db", "il", df.schema)
    table.append(df.repartitionByRange(6, "id"))
    pruned = table.to_df(spark, pruning=[("id", "in", [3, 5, 201])])
    assert sorted(r.id for r in pruned.collect()) == [3, 5, 201]
    assert len(pruned.inputFiles()) < 6  # middle files skipped
    # empty after bounds: no members in any file
    assert table.to_df(spark, pruning=[("id", "in", [999])]).count() == 0

    # partitioned: IN on the partition source prunes directories too
    spec = PartitionSpec((PartitionField("b", "identity", "b", 1001),))
    pt = LakeCatalog(tmp_path / "wh2").create_table("db", "pl", df.schema, spec)
    pt.append(df)
    got = pt.to_df(spark, pruning=[("b", "in", [1, 2])])
    assert sorted(r.id for r in got.collect()) == sorted(
        r.id for r in df.filter("b IN (1, 2)").collect()
    )


def test_stats_cap_counts_top_level_columns(tmp_path):
    """A leading wide struct must not eat the stats budget: the cap
    counts TOP-LEVEL columns, so flat columns after 32+ nested leaves
    still get bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _footer_column_bounds,
    )

    wide = pa.StructArray.from_arrays(
        [pa.array([i, i + 1], pa.int64()) for i in range(40)],
        names=[f"n{i:02d}" for i in range(40)],
    )
    tbl = pa.table(
        {
            "wide": wide,
            "id": pa.array([7, 9], pa.int64()),
            "v": pa.array(["a", "b"]),
        }
    )
    p = tmp_path / "w.parquet"
    pq.write_table(tbl, p)
    bounds = _footer_column_bounds(pq.read_metadata(p))
    # nested leaves carry no bounds and consume no cap slots
    assert bounds["id"] == [7, 9]
    assert bounds["v"] == ["a", "b"]
    assert not any("." in k for k in bounds)


def test_expire_metadata_versions(spark, catalog):
    """Old metadata version files (including CAS-orphaned ones) are
    reaped down to keep_last; the current hint target always
    survives and the table stays loadable."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    table, df = _mk(spark, catalog, "mx")
    for i in range(6):
        table.commit_schema(
            table.schema.add(f"c{i}", "double")
        )  # v2..v7
    meta_dir = table.location / "_meta"
    assert len(list(meta_dir.glob("*.metadata.json"))) == 7
    # plant a CAS-orphan (unique-named file never referenced by a hint)
    (meta_dir / "v5-deadbeef.metadata.json").write_text("{}")
    gone = table.expire_metadata_versions(keep_last=3)
    left = sorted(p.name for p in meta_dir.glob("*.metadata.json"))
    assert left == ["v5.metadata.json", "v6.metadata.json", "v7.metadata.json"]
    assert "v5-deadbeef.metadata.json" in gone
    assert "v1.metadata.json" in gone
    reloaded = LakeTable.load(table.location)
    assert reloaded.schema.fieldNames()[-1] == "c5"
    with pytest.raises(TableFormatError):
        table.expire_metadata_versions(keep_last=0)


def test_snapshot_tags(spark, catalog):
    """Tags (Iceberg refs): name a snapshot, read through the name,
    survive expiration until dropped, list via refs_df."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    table, df = _mk(spark, catalog, "tg")
    s1 = table.append(df.filter("id < 40"))
    table.append(df.filter("id >= 40"))
    table.create_tag("first-batch", s1.snapshot_id)
    table.create_tag("latest")  # defaults to current snapshot
    # tags round-trip through metadata (spec 'refs' map)
    reloaded = LakeTable.load(table.location)
    assert reloaded.tags == table.tags
    # resolution in time travel and incremental reads
    assert table.to_df(spark, as_of_snapshot="first-batch").count() == 40
    assert table.to_df(spark, as_of_snapshot="latest").count() == 100
    inc = table.changes_between(spark, from_snapshot="first-batch")
    assert sorted(r.id for r in inc.collect()) == list(range(40, 100))
    # duplicate / unknown guards
    with pytest.raises(TableFormatError, match="already exists"):
        table.create_tag("latest")
    with pytest.raises(TableFormatError, match="unknown snapshot"):
        table.create_tag("x", "nope")
    with pytest.raises(TableFormatError, match="unknown tag"):
        table.drop_tag("nope")
    # a tagged snapshot is ref-retained against expiration
    table.compact(spark)  # both appends -> history
    expired = table.expire_snapshots(older_than_ms=2**62)
    assert s1.snapshot_id not in expired  # pinned by the tag
    assert table.to_df(spark, as_of_snapshot="first-batch").count() == 40
    table.drop_tag("first-batch")
    assert s1.snapshot_id in table.expire_snapshots(older_than_ms=2**62)
    refs = table.refs_df(spark).collect()
    assert [(r.name, r.type) for r in refs] == [("latest", "tag")]


def test_write_audit_publish_branches(spark, catalog):
    """The WAP workflow: stage appends on a branch (main unchanged),
    audit the branch read, fast-forward to publish; a moved main
    refuses the publish; dropped branches leave only orphans that
    remove_orphan_files reaps — and never before the drop."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    table, df = _mk(spark, catalog, "wap")
    table.append(df.filter("id < 30"))
    table.create_branch("audit")
    with pytest.raises(TableFormatError, match="already exists"):
        table.create_branch("audit")
    with pytest.raises(TableFormatError, match="'main'"):
        table.create_branch("main")

    table.append(df.filter("id >= 30 AND id < 60"), branch="audit")
    table.append(df.filter("id >= 60"), branch="audit")
    # staged, not published
    assert table.to_df(spark).count() == 30
    assert table.to_df(spark, branch="audit").count() == 100
    # branch state survives a metadata reload
    reloaded = LakeTable.load(table.location)
    assert reloaded.branches == ["audit"]
    assert reloaded.to_df(spark, branch="audit").count() == 100
    # branch dirs are referenced — nothing to reap while staged
    assert table.remove_orphan_files() == []
    # audit passed: publish
    assert table.fast_forward("audit") == 2
    assert table.branches == []
    assert table.to_df(spark).count() == 100

    # divergence: main moves after the fork -> publish refuses
    table.create_branch("audit2")
    table.append(df.filter("id < 5"), branch="audit2")
    table.append(df.filter("id < 3"))  # main moves
    with pytest.raises(TableFormatError, match="does not fast-forward"):
        table.fast_forward("audit2")
    # audit failed: abandon; the staged dir becomes reapable
    staged_dirs = [
        s["data_dir"]
        for s in table.meta["branches"]["audit2"]["snapshots"]
        if s["data_dir"] not in {x.data_dir for x in table.snapshots}
    ]
    table.drop_branch("audit2")
    reaped = table.remove_orphan_files()
    assert reaped == sorted(staged_dirs)
    assert table.to_df(spark).count() == 103
    with pytest.raises(TableFormatError, match="unknown branch"):
        table.fast_forward("audit2")


def test_ref_namespace_and_branch_write_validation(spark, catalog):
    """Tags and branches share one ref namespace ('main' reserved on
    both sides); a write to an unknown branch fails BEFORE any data
    lands; refs_df lists branches alongside tags."""
    table, df = _mk(spark, catalog, "ns")
    table.append(df.filter("id < 10"))
    table.create_tag("t1")
    table.create_branch("b1")
    with pytest.raises(TableFormatError, match="names a tag"):
        table.create_branch("t1")
    with pytest.raises(TableFormatError, match="names a branch"):
        table.create_tag("b1")
    with pytest.raises(TableFormatError, match="'main'"):
        table.create_tag("main")
    # typo'd branch: no orphan dir may be written
    dirs_before = sorted((table.location / "data").glob("snap-*"))
    with pytest.raises(TableFormatError, match="unknown branch"):
        table.append(df.filter("id >= 10"), branch="b1-typo")
    assert sorted((table.location / "data").glob("snap-*")) == dirs_before
    refs = {(r.name, r.type) for r in table.refs_df(spark).collect()}
    assert refs == {("t1", "tag"), ("b1", "branch")}


def test_history_pinned_tag_stays_out_of_export_refs(spark, catalog):
    """A tag pinned to a HISTORY snapshot (post-compaction) is engine
    state only: the export writes refs solely for exported (live)
    snapshots, so every exported ref resolves (conformance rule 26)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
    )
    import json as _json

    table, df = _mk(spark, catalog, "hp")
    s1 = table.append(df.filter("id < 50"))
    table.append(df.filter("id >= 50"))
    table.create_tag("old", s1.snapshot_id)
    table.compact(spark)  # s1 moves to history; the tag still pins it
    meta_dir = export_to_iceberg(table)
    hint = (meta_dir / "version-hint.text").read_text().strip()
    doc = _json.loads((meta_dir / f"v{hint}.metadata.json").read_text())
    exported_ids = {s["snapshot-id"] for s in doc["snapshots"]}
    assert set(doc["refs"]) == {"main"}  # history tag dropped from export
    assert doc["refs"]["main"]["snapshot-id"] in exported_ids
    # engine-side, the tag still resolves and retains
    assert table.to_df(spark, as_of_snapshot="old").count() == 50


def test_lake_topk_threshold_from_manifests(spark, tmp_path, monkeypatch):
    """VERDICT r7 item 6: the lake serves the b21-style zone-map top-k
    bound from commit-time manifests — zero parquet footer access at
    plan time (asserted by poisoning read_metadata), value-equal to
    the footer path's bound on single-row-group files, retention-sound
    end to end, and conservatively None while merge-on-read deletes
    are live or stats are missing."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    table = LakeCatalog(tmp_path / "wh").create_table(
        "db", "tk", spark.range(1).select(F.col("id")).schema
    )
    for lo in (0, 100, 200, 300):
        table.append(
            spark.range(lo, lo + 100).select(F.col("id")).coalesce(1)
        )

    # footer-path parity target, computed BEFORE poisoning: the k-th
    # largest row-group max across the table's files (single-row-group
    # files => file bounds == row-group bounds)
    k = 2
    rg_maxes = []
    for r in table.files_df(spark).collect():
        md = pq.read_metadata(str(table.location / r.file_path))
        ci = md.schema.names.index("id")
        for g in range(md.num_row_groups):
            rg_maxes.append(md.row_group(g).column(ci).statistics.max)
    rg_maxes.sort(reverse=True)

    def boom(*a, **kw):
        raise AssertionError("topk threshold must not read footers")

    monkeypatch.setattr(pq, "read_metadata", boom)
    t = table.topk_prune_threshold("id", k)
    assert t == rg_maxes[k - 1] == 299

    # retention-sound composition: pruned scan + order/limit returns
    # the exact top-k, while the manifest dropped dead files
    pruned = table.to_df(spark, pruning=[("id", ">=", t)])
    top = [r.id for r in pruned.orderBy(F.desc("id")).limit(k).collect()]
    assert top == [399, 398]
    assert len(pruned.inputFiles()) < 4

    # conservative None: k >= file count, missing column
    assert table.topk_prune_threshold("id", 4) is None
    assert table.topk_prune_threshold("nope", 1) is None

    # live merge-on-read delete: a removed row may have been a file
    # max — refuse until compaction folds the delete
    monkeypatch.undo()
    table.delete_where(spark, "id >= 350", strategy="merge_on_read")
    assert table.topk_prune_threshold("id", 2) is None


def test_zorder_compaction_prunes_trailing_dimension(spark, tmp_path):
    """Multi-dimensional clustering (cluster_by = Z-order): after a
    z-ordered rewrite, a predicate on the TRAILING clustered column
    plans a strict file subset — the case a lexicographic sort_by
    cannot prune (every x-sorted file spans the full y range). Also
    pins rewrite invariance (exact rows survive) and the
    sort_by/cluster_by exclusivity contract."""
    import pytest
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    # two independent uniform dimensions; x-hash layout so raw files
    # span both ranges (nothing prunable before the rewrite)
    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
        F.col("id").alias("payload"),
    )
    table = LakeCatalog(tmp_path / "wh").create_table("db", "zo", df.schema)
    table.append(df.repartition(8))

    with pytest.raises(TableFormatError):
        table.compact(spark, sort_by=["x"], cluster_by=["x", "y"])

    table.compact(spark, cluster_by=["x", "y"], target_files=16)
    assert table.meta["clustering"] == ["x", "y"]

    # invariance: the rewrite lost/duplicated nothing
    got = sorted(r.payload for r in table.to_df(spark).collect())
    assert got == list(range(4096))

    full = len(table.to_df(spark).inputFiles())
    assert full > 4  # enough granularity for skips to be visible
    for col in ("x", "y"):  # BOTH dimensions prune, incl. the trailing
        pruned = table.to_df(spark, pruning=[(col, "<", 8)])
        assert len(pruned.inputFiles()) < full, col
        assert sorted(
            (r.x, r.y, r.payload) for r in pruned.collect()
        ) == sorted(
            (r.x, r.y, r.payload) for r in df.filter(f"{col} < 8").collect()
        ), col


def test_zorder_beats_lexicographic_on_trailing_column(spark, tmp_path):
    """The design claim itself, measured: same data, same file count,
    same trailing-column predicate — the lexicographic layout scans
    every file, the z-ordered layout skips most of them."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 4096).select(
        (F.col("id") % 64).alias("x"),
        F.floor(F.col("id") / 64).alias("y"),
    )
    cat = LakeCatalog(tmp_path / "wh")
    pred = [("y", "<", 4)]

    lex = cat.create_table("db", "lex", df.schema)
    lex.append(df)
    lex.compact(spark, sort_by=["x", "y"], target_files=16)
    lex_files = len(lex.to_df(spark, pruning=pred).inputFiles())
    lex_total = len(lex.to_df(spark).inputFiles())

    zo = cat.create_table("db", "zo2", df.schema)
    zo.append(df)
    zo.compact(spark, cluster_by=["x", "y"], target_files=16)
    zo_files = len(zo.to_df(spark, pruning=pred).inputFiles())

    # x varies within every x-sorted file, so each spans all of y
    assert lex_files == lex_total
    assert zo_files < lex_files
    # and the pruned z-scan is still exact
    assert zo.to_df(spark, pruning=pred).count() == df.filter("y < 4").count()


def test_zorder_typed_and_null_columns(spark, tmp_path):
    """Z-order key construction across the type matrix (string via
    hash-order, date via epoch position, nullable numerics to bin 0):
    the rewrite must stay an exact row-preserving op for all of them."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    df = spark.range(0, 300).select(
        F.concat(F.lit("k"), (F.col("id") % 17).cast("string")).alias("s"),
        F.date_add(F.lit("2020-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias("d"),
        F.when(F.col("id") % 10 == 0, F.lit(None)).otherwise(F.col("id")).cast("double").alias("v"),
        F.col("id").alias("payload"),
    )
    table = LakeCatalog(tmp_path / "wh").create_table("db", "zt", df.schema)
    table.append(df.repartition(4))
    table.compact(spark, cluster_by=["s", "d", "v"], target_files=6)
    got = sorted(r.payload for r in table.to_df(spark).collect())
    assert got == list(range(300))


def test_write_distribution_mode(spark, catalog, tmp_path):
    """write.distribution-mode=hash must cluster rows by the HIDDEN
    partition value before the write — one file per partition value
    per append — where the default (none) lets the incoming task
    layout multiply into files-per-(task, value)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    spec = PartitionSpec(
        (PartitionField("bucket", "identity", "bucket_p", 100),)
    )

    def files_per_dir(table):
        snap_dir = table.location / table.snapshots[-1].data_dir
        counts = {}
        for f in snap_dir.rglob("*.parquet"):
            counts[f.parent.name] = counts.get(f.parent.name, 0) + 1
        return counts

    plain = catalog.create_table("db", "dm_none", df.schema, spec)
    plain.append(df.repartition(8))  # 8 tasks x 4 values
    assert max(files_per_dir(plain).values()) > 1

    hashed = catalog.create_table(
        "db", "dm_hash", df.schema, spec,
        properties={"write.distribution-mode": "hash"},
    )
    hashed.append(df.repartition(8))
    assert set(files_per_dir(hashed).values()) == {1}
    assert hashed.to_df(spark).count() == 1000

    ranged = catalog.create_table(
        "db", "dm_range", df.schema, spec,
        properties={"write.distribution-mode": "range"},
    )
    ranged.append(df.repartition(8))
    assert set(files_per_dir(ranged).values()) == {1}

    bad = catalog.create_table(
        "db", "dm_bad", df.schema, spec,
        properties={"write.distribution-mode": "zorder"},
    )
    with pytest.raises(TableFormatError):
        bad.append(df)


def test_write_target_file_size(spark, catalog):
    """write.target-file-size-bytes must bound data-file sizes on the
    ordinary append path (Iceberg's write-path file-size knob —
    motivated by the measured 4x scan cost of one oversized file,
    SCALE.md round-9). First commit sizes by the schema estimate;
    later commits calibrate bytes/row from the table's own manifests."""
    df = spark.range(0, 20_000).select(
        F.col("id"),
        F.concat(F.lit("pad-"), F.col("id").cast("string"),
                 F.lit("-" + "y" * 40)).alias("pad"),
    )
    table = catalog.create_table(
        "db", "tfs", df.schema,
        properties={"write.target-file-size-bytes": "65536"},
    )
    s1 = table.append(df.coalesce(1))  # one task: cap is the only splitter
    assert len(s1.files) > 1, "first-commit bootstrap estimate must split"

    # second append calibrates from the observed manifest width: files
    # land near the target (within 2x — parquet framing is per-file)
    s2 = table.append(df.coalesce(1))
    assert len(s2.files) > 1
    assert max(f["size_bytes"] for f in s2.files) < 2 * 65536
    assert table.to_df(spark).count() == 40_000

    # compaction inherits the bound through the same write path: the
    # merged live set must NOT coalesce into one oversized file
    sc = table.compact(spark)
    assert len(sc.files) > 1
    assert max(f["size_bytes"] for f in sc.files) < 2 * 65536
    assert table.to_df(spark).count() == 40_000

    # unbounded by default: same write, no property -> one task, one file
    plain = catalog.create_table("db", "tfs_plain", df.schema)
    sp = plain.append(df.coalesce(1))
    assert len(sp.files) == 1

    bad = catalog.create_table(
        "db", "tfs_bad", df.schema,
        properties={"write.target-file-size-bytes": "not-bytes"},
    )
    with pytest.raises(TableFormatError):
        bad.append(df)


def test_relative_warehouse_bucket_layout(spark, tmp_path, monkeypatch):
    """A RELATIVE local warehouse path must not strand bucket-layout
    data: Spark resolves a relative saveAsTable path option against
    spark.sql.warehouse.dir (not the cwd read.parquet uses), so before
    the catalog resolved local paths the committed manifest pointed at
    a data dir that vanished with the throwaway catalog entry (found
    live at sf10). The catalog now pins local warehouses absolute."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )

    from pathlib import Path

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    monkeypatch.chdir(tmp_path)
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    cat = LakeCatalog("rel_wh")  # relative on purpose
    assert cat.warehouse.is_absolute()
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
    )
    table = cat.create_table(
        "db", "bt", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    snap = table.append(df)
    data_dir = table.location / snap.data_dir
    assert data_dir.exists() and list(data_dir.rglob("*.parquet"))
    assert table.to_df(spark).count() == 2000
    # reload through the relative path too
    reloaded = LakeTable.load(Path("rel_wh") / "db" / "bt")
    assert reloaded.location.is_absolute()
    assert reloaded.to_df(spark).count() == 2000


def test_history_df_parent_chain(spark, catalog):
    table, df = _mk(spark, catalog, "hist1")
    s1 = table.append(df.filter("id < 40"))
    s2 = table.append(df.filter("id >= 40"))
    s3 = table.compact(spark)
    rows = table.history_df(spark).orderBy("made_current_at_ms").collect()
    assert [r.snapshot_id for r in rows] == [
        s1.snapshot_id, s2.snapshot_id, s3.snapshot_id,
    ]
    assert [r.parent_id for r in rows] == [
        None, s1.snapshot_id, s2.snapshot_id,
    ]
    assert all(r.is_current_ancestor for r in rows)


def test_partitions_df_per_partition_stats(spark, catalog):
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = spark.range(0, 100).select(
        F.col("id"), (F.col("id") % 4).alias("bucket")
    )
    spec = PartitionSpec(
        (PartitionField("bucket", "identity", "bucket_p", 100),)
    )
    table = catalog.create_table(
        "db", "parts1", df.schema, spec,
        properties={"write.distribution-mode": "hash"},
    )
    table.append(df)
    table.append(df.filter("bucket = 1"))
    rows = table.partitions_df(spark).collect()
    by_val = {r.partition["bucket_p"]: r for r in rows}
    assert set(by_val) == {"0", "1", "2", "3"}
    assert by_val["1"].record_count == 50  # 25 + 25 second append
    assert by_val["1"].file_count == 2
    assert by_val["0"].record_count == 25
    assert all(r.size_bytes > 0 for r in rows)
    # totals tie back to the table
    assert sum(r.record_count for r in rows) == 125


def test_partitions_df_unpartitioned(spark, catalog):
    table, df = _mk(spark, catalog, "parts2")
    table.append(df)
    rows = table.partitions_df(spark).collect()
    assert len(rows) == 1
    assert rows[0].partition == {}
    assert rows[0].record_count == 100


# ---------------------------------------------------------------------------
# write.metadata.metrics modes: counts / truncate(N) (r10)
# ---------------------------------------------------------------------------


def test_truncate_upper_rounding_rules():
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _truncate_upper,
    )

    # plain increment of the last kept char
    assert _truncate_upper("abcdef", 3) == "abd"
    # carry: last char at max -> increment an earlier one, drop tail
    assert _truncate_upper("ab" + chr(0x10FFFF) + "z", 3) == "ac"
    # all at max -> no valid truncated upper
    assert _truncate_upper(chr(0x10FFFF) * 4, 2) is None
    # surrogate block is skipped (not unicode scalar values)
    assert _truncate_upper("a" + chr(0xD7FF) + "x", 2) == "a"


def test_metrics_modes_counts_and_truncate(spark, tmp_path):
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    df = spark.createDataFrame(
        [(i, f"status_{i % 3}", f"priority_string_{i:05d}") for i in range(500)],
        "k long, status string, pri string",
    )
    cat = LakeCatalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "d",
        "m",
        df.schema,
        properties={
            "write.metadata.metrics.default": "counts",
            "write.metadata.metrics.column.k": "full",
            "write.metadata.metrics.column.pri": "truncate(10)",
        },
    )
    t.append(df)
    files = t.snapshots[-1].files
    assert all("status" not in f["stats"] for f in files)  # counts mode
    # full: exact global enclosure across the per-file bounds
    assert min(f["stats"]["k"][0] for f in files) == 0
    assert max(f["stats"]["k"][1] for f in files) == 499
    for f in files:
        lo, hi = f["stats"]["pri"]
        assert len(lo) <= 10 and len(hi) <= 10
    # the truncated upper still encloses the file's true max
    assert max(f["stats"]["pri"][1] for f in files) >= "priority_s"
    # a property set copied from a real Iceberg table (its default
    # truncate(16)) must NOT fail the append (ADVICE r9)
    t2 = cat.create_table(
        "d",
        "m16",
        df.schema,
        properties={"write.metadata.metrics.default": "truncate(16)"},
    )
    t2.append(df)
    assert t2.to_df(spark).count() == 500
    # invalid modes still fail loudly
    bad = cat.create_table(
        "d",
        "bad",
        df.schema,
        properties={"write.metadata.metrics.default": "bogus"},
    )
    with pytest.raises(TableFormatError, match="metrics"):
        bad.append(df)
    bad0 = cat.create_table(
        "d",
        "bad0",
        df.schema,
        properties={"write.metadata.metrics.default": "truncate(0)"},
    )
    with pytest.raises(TableFormatError, match="truncate length"):
        bad0.append(df)

def test_add_files_imports_without_rewrite(spark, tmp_path):
    """r13: system.add_files imports existing parquet byte-for-byte
    (no decode/rewrite — file content identical), validates footers
    against the schema with the evolution promotion matrix, refuses
    extra columns loudly, null-fills missing nullable columns at scan
    time, and composes with time travel and later appends."""
    import hashlib

    import pytest as _pytest
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    src = tmp_path / "foreign_src"
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"),  # int: promotes to long
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )
    df.coalesce(2).write.parquet(str(src))
    cat = LakeCatalog(str(tmp_path / "wh"))
    schema = (
        spark.range(1)
        .selectExpr(
            "cast(id as long) k", "cast('' as string) v",
            "cast(null as double) extra_nullable",
        )
        .schema
    )
    t = cat.create_table("d", "imp", schema)
    t.append(
        spark.range(100, 110).selectExpr(
            "id as k", "cast(id as string) v", "cast(id as double) extra_nullable"
        )
    )
    snap = t.add_files(src)
    assert snap.operation == "append" and len(snap.files) == 2
    # byte identity: imported files are copies, not rewrites
    src_hashes = {
        hashlib.md5(p.read_bytes()).hexdigest()
        for p in src.rglob("*.parquet")
    }
    dst_hashes = {
        hashlib.md5((t.location / f["path"]).read_bytes()).hexdigest()
        for f in snap.files
    }
    assert dst_hashes == src_hashes
    # scan: promotion + null-fill compose with the existing snapshot
    out = t.to_df(spark)
    assert out.count() == 110
    assert out.schema["k"].dataType.simpleString() == "bigint"
    assert out.filter("extra_nullable IS NULL").count() == 100
    assert out.filter("k = 42").select("v").first()[0] == "v42"
    # time travel: pre-import state intact
    assert t.to_df(spark, as_of_snapshot=t.snapshots[0].snapshot_id).count() == 10
    # later appends and incremental reads compose
    t.append(spark.range(200, 205).selectExpr(
        "id as k", "cast(id as string) v", "cast(id as double) extra_nullable"
    ))
    delta = t.changes_between(spark, snap.snapshot_id, None)
    assert delta.count() == 5
    # guard: extra column refused loudly
    bad = tmp_path / "bad_src"
    spark.range(3).selectExpr("id as k", "'x' as v", "id as rogue").write.parquet(str(bad))
    with _pytest.raises(TableFormatError, match="rogue"):
        t.add_files(bad)
    # guard: non-promotable type refused
    bad2 = tmp_path / "bad2_src"
    spark.range(3).selectExpr("cast(id as string) k", "'x' as v").write.parquet(str(bad2))
    with _pytest.raises(TableFormatError, match="promotion"):
        t.add_files(bad2)
    # DDL surface
    src2 = tmp_path / "src2"
    spark.range(300, 303).selectExpr("id as k", "'y' as v").coalesce(1).write.parquet(str(src2))
    r = DdlFrontend(spark, cat).sql(
        f"CALL system.add_files('d.imp', source_dir => '{src2}')"
    )
    assert not r.has_error, r.message_list
    assert "imported 1 file(s)" in r.message_list[-1]
    assert cat.load_table("d", "imp").to_df(spark).count() == 118


def test_add_files_refuses_missing_not_null_column(spark, tmp_path):
    """r13 ADVICE: a file missing a NOT NULL table column must be
    refused at footer validation (importing it would null-fill the
    column at scan time, silently violating the nullability
    contract); the same file imports fine once the column is
    nullable."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    src = tmp_path / "src"
    spark.range(3).selectExpr("id as k").write.parquet(str(src))
    cat = LakeCatalog(str(tmp_path / "wh"))
    strict = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), False),  # NOT NULL, absent
    ])
    t = cat.create_table("d", "strict", strict)
    with _pytest.raises(TableFormatError, match="NOT NULL"):
        t.add_files(src)
    assert t.snapshots == []  # nothing committed, nothing copied
    relaxed = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ])
    t2 = cat.create_table("d", "relaxed", relaxed)
    snap = t2.add_files(src)
    assert snap is not None
    out = t2.to_df(spark)
    assert out.count() == 3 and out.filter("v IS NULL").count() == 3


def test_add_files_allows_required_leaf_under_omitted_nullable_struct(
    spark, tmp_path
):
    """r14 review finding: a required leaf inside a NULLABLE container
    the file omits ENTIRELY is a legal import (the whole container
    null-fills as one NULL); the refusal still fires when the file
    materializes the container but lacks the required child."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    cat = LakeCatalog(str(tmp_path / "wh"))
    inner = T.StructType([T.StructField("x", T.LongType(), False)])
    schema = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("s", inner, True),  # nullable container
    ])
    t = cat.create_table("d", "nested", schema)

    src_ok = tmp_path / "ok_src"  # omits the whole nullable struct
    spark.range(3).selectExpr("id as k").write.parquet(str(src_ok))
    snap = t.add_files(src_ok)
    assert snap is not None
    out = t.to_df(spark)
    assert out.count() == 3 and out.filter("s IS NULL").count() == 3

    src_bad = tmp_path / "bad_src"  # materializes s but lacks s.x
    spark.range(3).selectExpr(
        "id as k", "named_struct('y', id) as s"
    ).write.parquet(str(src_bad))
    # (the extra-column refusal fires first on s.y; use a struct with
    # only a MISSING required child by building s with a nullable
    # sibling declared in the table)
    schema2 = T.StructType([
        T.StructField("k", T.LongType(), False),
        T.StructField("s", T.StructType([
            T.StructField("x", T.LongType(), False),
            T.StructField("y", T.LongType(), True),
        ]), True),
    ])
    t2 = cat.create_table("d", "nested2", schema2)
    with _pytest.raises(TableFormatError, match="s.x"):
        t2.add_files(src_bad)


# ---------------------------------------------------------------------------
# r15 (a42): engine-native row lineage
# ---------------------------------------------------------------------------


def test_row_lineage_assignment_and_reload(spark, tmp_path):
    """Append commits assign contiguous per-file first_row_ids and
    advance next_row_id; lineage_df surfaces _row_id /
    _last_updated_sequence_number; the assignment survives the
    metadata JSON round-trip (reloaded handle)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "lin", sch)
    t.append(spark.range(0, 5).select("id"))
    t = cat.load_table("db", "lin")
    t.append(spark.range(100, 103).select("id"))
    t = cat.load_table("db", "lin")  # reload: JSON round-trip
    assert int(t.meta["next_row_id"]) == 8
    rows = sorted(
        (r.id, r._row_id, r._last_updated_sequence_number)
        for r in t.lineage_df(spark).collect()
    )
    assert [r[1] for r in rows] == list(range(8))  # contiguous, unique
    assert {r[2] for r in rows if r[0] < 100} == {1}
    assert {r[2] for r in rows if r[0] >= 100} == {2}


def test_row_lineage_overwrite_fresh_and_legacy_refusal(spark, tmp_path):
    """Merge-on-read deletes mask rows without shifting survivor ids.
    Since r16 EVERY commit assigns: OVERWRITE rows are new content and
    take FRESH ids (the spec's added-files rule — no carry exists to
    preserve), MoR-update re-appends take fresh blocks too, so lineage
    serves across every engine-written history. The refusal posture
    survives only where it should: a LEGACY history whose manifests
    predate assignment (manufactured here by stripping first_row_id),
    and a compact() of that history must not invent ids either."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "lin2", sch)
    t.append(spark.range(0, 6).select("id"))
    t.delete_where(spark, "id IN (1, 3)", strategy="merge_on_read")
    t = cat.load_table("db", "lin2")
    got = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert got == {0: 0, 2: 2, 4: 4, 5: 5}  # survivors keep their ids
    # overwrite: fresh contiguous block from the cursor (6 consumed)
    t.overwrite(t.to_df(spark).filter("id <> 5"))
    t = cat.load_table("db", "lin2")
    got = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert set(got) == {0, 2, 4}
    assert sorted(got.values()) == [6, 7, 8]  # fresh ids, no reuse
    assert int(t.meta["next_row_id"]) == 9
    # MoR update: untouched rows keep ids, the re-appended version
    # takes a fresh id (spec-legal; CoW is the id-preserving path)
    t.update_where(
        spark, "id = 2", {"id": "id"}, strategy="merge_on_read"
    )
    t = cat.load_table("db", "lin2")
    got2 = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert got2[0] == got[0] and got2[4] == got[4]
    assert got2[2] == 9  # fresh block
    # LEGACY history (pre-assignment manifests): refusal preserved
    for sj in t.meta["snapshots"]:
        for f in sj.get("files") or []:
            f.pop("first_row_id", None)
    with _pytest.raises(TableFormatError, match="first_row_id"):
        t.lineage_df(spark)
    # compact() of the legacy history must NOT invent ids: it
    # compacts plain (no materialized columns), still refuses
    t.compact(spark)
    with _pytest.raises(TableFormatError, match="first_row_id"):
        t.lineage_df(spark)


def test_row_lineage_through_cow_dml(spark, tmp_path):
    """a45: copy-on-write DELETE carries survivor lineage untouched;
    CoW UPDATE keeps _row_id and bumps _last_updated_sequence_number
    on exactly the updated rows; CoW MERGE keeps carried ids, bumps
    updated rows, assigns inserted rows FRESH ids from the commit's
    null-slot block. All through physical columns, so normal scans
    stay clean."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("v", T.LongType(), True),
    ])
    t = cat.create_table("db", "lin5", sch)
    t.append(spark.range(0, 6).selectExpr("id", "id * 10 as v"))
    # CoW DELETE (seq 2): survivors keep id AND sequence
    t.delete_where(spark, "id IN (1, 3)", strategy="copy_on_write")
    t = cat.load_table("db", "lin5")
    got = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in t.lineage_df(spark).collect()
    }
    assert got == {0: (0, 1), 2: (2, 1), 4: (4, 1), 5: (5, 1)}
    # CoW UPDATE (seq 3): updated rows bump seq, keep id
    t.update_where(
        spark, "id >= 4", {"v": "v + 1"}, strategy="copy_on_write"
    )
    t = cat.load_table("db", "lin5")
    got = {
        r.id: (r._row_id, r._last_updated_sequence_number, r.v)
        for r in t.lineage_df(spark).collect()
    }
    assert got == {
        0: (0, 1, 0), 2: (2, 1, 20), 4: (4, 3, 41), 5: (5, 3, 51),
    }
    # CoW MERGE (seq 4): id=2 updated (bump, keep id), id=100 inserted
    # (fresh id from the commit's block), id=0/4/5 carried untouched
    src = spark.createDataFrame(
        [(2, 999), (100, 1000)], "id bigint, v bigint"
    )
    t.merge_into(
        spark, src, ["id"],
        when_matched_update={"v": "s_v"},
        strategy="copy_on_write",
    )
    t = cat.load_table("db", "lin5")
    rows = {
        r.id: (r._row_id, r._last_updated_sequence_number, r.v)
        for r in t.lineage_df(spark).collect()
    }
    assert rows[0] == (0, 1, 0)
    assert rows[2] == (2, 4, 999)
    assert rows[4] == (4, 3, 41)
    assert rows[5] == (5, 3, 51)
    new_id, new_seq, new_v = rows[100]
    assert new_v == 1000 and new_seq == 4
    # fresh id, never colliding with any carried id
    assert new_id not in {0, 2, 4, 5}
    assert len({v[0] for v in rows.values()}) == len(rows)
    # normal scans never see the lineage columns
    assert t.to_df(spark).columns == ["id", "v"]


def test_lineage_through_compaction_materializes_columns(
    spark, tmp_path
):
    """a43: compact() on a fully-assigned table writes _row_id /
    _last_updated_sequence_number as PHYSICAL parquet columns in the
    compacted files; survivors keep their ids, normal scans stay
    clean, post-compaction appends continue from next_row_id, and a
    second compaction re-carries the materialized values."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "lin4", sch)
    t.append(spark.range(0, 6).select("id"))
    t.delete_where(spark, "id IN (1, 3)", strategy="merge_on_read")
    t = cat.load_table("db", "lin4")
    pre = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in t.lineage_df(spark).collect()
    }
    t.compact(spark)
    t = cat.load_table("db", "lin4")
    post = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in t.lineage_df(spark).collect()
    }
    assert post == pre  # survivors keep ids AND sequence numbers
    # the physical columns exist in the compacted files...
    snap = t.snapshots[0]
    raw = spark.read.parquet(str(t.location / snap.data_dir))
    assert "_row_id" in raw.columns
    assert "_last_updated_sequence_number" in raw.columns
    # ...and every value is non-null (pure compaction: no fresh rows)
    assert raw.filter("_row_id IS NULL").count() == 0
    # normal scans align the lineage columns away
    assert t.to_df(spark).columns == ["id"]
    # the rewrite consumed a fresh block (null-slot inheritance base)
    assert int(t.meta["next_row_id"]) == 6 + 4
    # post-compaction appends continue from the cursor
    t.append(spark.range(100, 102).select("id"))
    t = cat.load_table("db", "lin4")
    got = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert got == {0: 0, 2: 2, 4: 4, 5: 5, 100: 10, 101: 11}
    # a second compaction re-carries the already-materialized values
    t.compact(spark)
    t = cat.load_table("db", "lin4")
    got2 = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert got2 == got
    # sorted compaction carries lineage through the range shuffle too
    t.compact(spark, sort_by=["id DESC"])
    t = cat.load_table("db", "lin4")
    got3 = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert got3 == got


def test_row_lineage_export_explicit_fields_match_engine(spark, tmp_path):
    """The v3 export materializes RECORDED assignments as explicit
    avro fields (data_file 142 / manifest-list 520) and the external
    reader derives the exact ids the engine's lineage_df assigns —
    the conformance row-41 invariant."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
        read_avro_jvm,
        read_iceberg_table,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "lin3", sch)
    t.append(spark.range(0, 4).select("id"))
    t = cat.load_table("db", "lin3")
    t.append(spark.range(50, 53).select("id"))
    t = cat.load_table("db", "lin3")
    engine = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    export_to_iceberg(t, spark=spark, format_version=3)

    meta_dir = t.location / "metadata"
    import json as _json

    doc = _json.loads(
        (meta_dir / "v1.metadata.json").read_text()
    )
    assert doc["next-row-id"] == 7
    # every data manifest entry carries the explicit field
    firsts = []
    for snap in doc["snapshots"]:
        for m in read_avro_jvm(spark, snap["manifest-list"]):
            if m.get("content", 0) != 0:
                continue
            assert m.get("first_row_id") is not None
            for e in read_avro_jvm(spark, m["manifest_path"]):
                firsts.append(e["data_file"]["first_row_id"])
    assert all(f is not None for f in firsts)
    ext, _ = read_iceberg_table(spark, t.location, lineage=True)
    assert {r.id: r._row_id for r in ext.collect()} == engine


def test_row_lineage_assigned_at_wap_publish(spark, tmp_path):
    """WAP branch appends stage WITHOUT row-id assignments (publish
    order decides the blocks); fast_forward assigns them exactly as
    direct appends would, continuing main's cursor."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "wap", sch)
    t.append(spark.range(0, 3).select("id"))  # main: ids 0..2
    t.create_branch("audit")
    t.append(spark.range(10, 14).select("id"), branch="audit")
    # staged-but-unpublished: the branch read has no assignment yet,
    # and main's lineage is still clean
    assert sorted(
        r._row_id for r in t.lineage_df(spark).collect()
    ) == [0, 1, 2]
    t.fast_forward("audit")
    t = cat.load_table("db", "wap")
    rows = sorted(
        (r.id, r._row_id) for r in t.lineage_df(spark).collect()
    )
    assert [r[1] for r in rows] == list(range(7))
    assert int(t.meta["next_row_id"]) == 7


def test_row_lineage_through_rewrite_manifests_and_add_files(
    spark, tmp_path
):
    """r15 review: rewrite_manifests is a content-preserving metadata
    fold — lineage must keep the SOURCE snapshots' sequence numbers
    (no row was updated); add_files is an append of new rows and must
    consume row-id space like any append."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "fold", sch)
    t.append(spark.range(0, 3).select("id"))
    t = cat.load_table("db", "fold")
    t.append(spark.range(10, 12).select("id"))
    t = cat.load_table("db", "fold")
    t.rewrite_manifests()
    t = cat.load_table("db", "fold")
    rows = sorted(
        (r.id, r._row_id, r._last_updated_sequence_number)
        for r in t.lineage_df(spark).collect()
    )
    assert [r[1] for r in rows] == list(range(5))
    # sequence numbers are the ORIGINAL commits', not the fold's
    assert {r[2] for r in rows if r[0] < 10} == {1}
    assert {r[2] for r in rows if r[0] >= 10} == {2}

    # add_files: imported rows get the next id block
    ext = tmp_path / "ext"
    ext.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([100, 101], pa.int64())}),
        ext / "import.parquet",
    )
    t.add_files(str(ext))
    t = cat.load_table("db", "fold")
    rows2 = sorted(
        (r.id, r._row_id) for r in t.lineage_df(spark).collect()
    )
    assert [r[1] for r in rows2] == list(range(7))
    assert int(t.meta["next_row_id"]) == 7


def test_row_lineage_guards_duplicate_and_overlapping_blocks(
    spark, tmp_path
):
    """r15 advice: lineage_df mirrors the external reader's guards —
    a path listed twice with a CONFLICTING assignment refuses (a
    silent duplicate would fan out rows in the join), and overlapping
    per-file id blocks refuse rather than yield duplicate _row_ids.
    Identical duplicate entries dedupe harmlessly."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "ling", sch)
    t.append(spark.range(0, 4).select("id"))
    t.append(spark.range(10, 14).select("id"))
    t = cat.load_table("db", "ling")

    # t.snapshots materializes fresh Snapshot objects per access, so
    # injections go through the backing metadata dict (in-memory
    # internal spellings: "files" / "first_row_id")
    man0 = t.meta["snapshots"][0]["files"]

    # identical duplicate listing (benign): dedupes, ids unchanged
    man0.append(dict(man0[0]))
    got = sorted(r._row_id for r in t.lineage_df(spark).collect())
    assert got == list(range(8))

    # conflicting assignment for the same path: refuse
    t = cat.load_table("db", "ling")
    man0 = t.meta["snapshots"][0]["files"]
    clone = dict(man0[0])
    clone["first_row_id"] = int(clone["first_row_id"]) + 1
    man0.append(clone)
    with _pytest.raises(TableFormatError, match="conflicting"):
        t.lineage_df(spark)

    # overlapping id blocks across files: refuse
    t = cat.load_table("db", "ling")
    # second append's first file block rebased onto [0, 4)'s ids
    t.meta["snapshots"][1]["files"][0]["first_row_id"] = 2
    with _pytest.raises(TableFormatError, match="overlap"):
        t.lineage_df(spark)


def test_b68b_episode_restores_filter_pushdown_conf(spark):
    """r15 advice: the b68b episode flips
    spark.sql.python.filterPushdown.enabled for its pruned-format
    read but must leave the shared session as it found it."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.sources_sinks import (
        b68b_avro_pruned_scan,
    )

    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key)
    out = b68b_avro_pruned_scan(spark, "/root/testdata/sf0.001")
    assert out.count() > 0
    assert spark.conf.get(key) == before


def test_lineage_survives_zorder_and_schema_evolution(spark, tmp_path):
    """a43 edge interplay: lineage carries through a Z-ORDER compact
    (the __zorder_tmp column path) and through a compaction AFTER a
    schema evolution (the per-version alignment arms), and a
    post-evolution append composes with carried ids."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("x", T.LongType(), True),
    ])
    t = cat.create_table("db", "lin6", sch)
    t.append(spark.range(0, 8).selectExpr("id", "id * 3 as x"))
    pre = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    # z-order compact: lineage rides through the zcol repartition
    t.compact(spark, cluster_by=["id", "x"])
    t = cat.load_table("db", "lin6")
    assert {r.id: r._row_id for r in t.lineage_df(spark).collect()} == pre
    # evolve the schema (ADD COLUMN), append under the new version,
    # compact again: old rows carry, new rows keep their append ids
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend

    ddl = DdlFrontend(spark, cat)
    assert not ddl.sql("ALTER TABLE db.lin6 ADD COLUMN y BIGINT").has_error
    t = cat.load_table("db", "lin6")
    t.append(
        spark.range(100, 102).selectExpr(
            "id", "id as x", "id * 2 as y"
        )
    )
    t = cat.load_table("db", "lin6")
    mid = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert {k: v for k, v in mid.items() if k < 100} == pre
    t.compact(spark)
    t = cat.load_table("db", "lin6")
    post = {
        r.id: (r._row_id, r.y) for r in t.lineage_df(spark).collect()
    }
    assert {k: v[0] for k, v in post.items()} == mid
    assert post[100][1] == 200  # evolved column survives the carry
    assert post[0][1] is None


def test_lineage_time_travel(spark, tmp_path):
    """r16: lineage_df(as_of_snapshot=...) reads ids and sequence
    numbers AS OF a historical snapshot — a later compaction never
    changes the historical answer; tags resolve; branch refs refuse
    (branch appends have no assignments until publish); a rewrite
    target whose history predates assignment still refuses."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
        TableFormatError,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "lintt", sch)
    s1 = t.append(spark.range(0, 4).select("id"))
    t.create_tag("v1", s1.snapshot_id)
    s2 = t.append(spark.range(10, 13).select("id"))
    t = cat.load_table("db", "lintt")
    t.compact(spark)
    t = cat.load_table("db", "lintt")
    hist = {
        r.id: (r._row_id, r._last_updated_sequence_number)
        for r in t.lineage_df(spark, as_of_snapshot=s1.snapshot_id).collect()
    }
    assert hist == {0: (0, 1), 1: (1, 1), 2: (2, 1), 3: (3, 1)}
    # tag resolution
    by_tag = {
        r.id: r._row_id
        for r in t.lineage_df(spark, as_of_snapshot="v1").collect()
    }
    assert by_tag == {0: 0, 1: 1, 2: 2, 3: 3}
    # the pre-compaction FULL state: both appends' blocks
    full = {
        r.id: r._row_id
        for r in t.lineage_df(spark, as_of_snapshot=s2.snapshot_id).collect()
    }
    assert full == {0: 0, 1: 1, 2: 2, 3: 3, 10: 4, 11: 5, 12: 6}
    # branch refs refuse
    t.create_branch("wip")
    with _pytest.raises(TableFormatError, match="branch lineage"):
        t.lineage_df(spark, as_of_snapshot="wip")


def test_lineage_survives_snapshot_expiration(spark, tmp_path):
    """a43 x expire_snapshots: expiring pre-compaction history leaves
    the compacted snapshot's MATERIALIZED lineage intact (ids are
    physical, not derived from expired ancestors), and post-expiry
    appends continue from the preserved cursor."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    sch = T.StructType([T.StructField("id", T.LongType(), False)])
    t = cat.create_table("db", "linex", sch)
    t.append(spark.range(0, 5).select("id"))
    t.delete_where(spark, "id = 1", strategy="merge_on_read")
    t = cat.load_table("db", "linex")
    t.compact(spark)
    t = cat.load_table("db", "linex")
    pre = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    t.expire_snapshots(older_than_ms=int(__import__("time").time() * 1000) + 1)
    t = cat.load_table("db", "linex")
    assert {r.id: r._row_id for r in t.lineage_df(spark).collect()} == pre
    t.append(spark.range(100, 102).select("id"))
    t = cat.load_table("db", "linex")
    got = {r.id: r._row_id for r in t.lineage_df(spark).collect()}
    assert got[100] == 9 and got[101] == 10  # cursor preserved (5+4)
