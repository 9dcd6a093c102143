"""rewrite_manifests (VERDICT r12 item 5): fold the live snapshots'
commit manifests into ONE metadata entry without touching data —
the third maintenance plane (data files: compact(), position deletes:
compact_position_deletes(), manifests: this). Every reader surface
must be INVARIANT across the fold: to_df (live + time travel),
changes_between over historic ids AND open-ended ranges, export,
metadata tables, streaming, expiration safety.

Reference parity: Iceberg's ``CALL system.rewrite_manifests`` — a
metadata-only 'replace' commit incremental consumers skip. The
reference's own metadata plane carries manifest lists this procedure
maintains; its Lambda never runs maintenance (data_generator.py:79 is
its only write), so this is the production surface its users reach
for once appends snowball.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    LakeTable,
    TableFormatError,
)


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).alias("g"),
        (F.col("id") * 2).alias("v"),
    )


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "wh")


def _appended_table(spark, wh, n_appends=5, rows_per=100, fold_after=()):
    """``fold_after``: append counts after which rewrite_manifests runs,
    so a later fold takes an earlier one as a source."""
    cat = LakeCatalog(wh)
    t = cat.create_table("d", "m", _src(spark, 0, 1).schema)
    for i in range(n_appends):
        t.append(_src(spark, i * rows_per, (i + 1) * rows_per).coalesce(1))
        if i + 1 in fold_after:
            t.rewrite_manifests()
    return t


# the final fold alone (1), or on top of an earlier fold (2): expire and
# export must resolve the recursive expansion like to_df does
_FOLDS = pytest.mark.parametrize("folds", [1, 2])


def _earlier_folds(folds):
    return (2,) if folds == 2 else ()


def test_rewrite_manifests_folds_live_entries_invariantly(spark, wh):
    t = _appended_table(spark, wh, n_appends=5)
    pre_rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    pre_files = {
        (r["file_path"], r["record_count"])
        for r in t.files_df(spark).collect()
    }
    originals = [s.snapshot_id for s in t.snapshots]
    snap = t.rewrite_manifests()
    # the manifest count drops: ONE live entry, union manifest
    assert snap is not None and len(t.snapshots) == 1
    assert t.snapshots[0].source_snapshots == originals
    assert len(t.snapshots[0].files) == len(pre_files)
    # values invariant, live read
    post_rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    assert post_rows == pre_rows
    # metadata tables invariant (files served from the union manifest)
    post_files = {
        (r["file_path"], r["record_count"])
        for r in t.files_df(spark).collect()
    }
    assert post_files == pre_files
    # reload round-trips the ext field and stays invariant
    t2 = LakeTable.load(t.location)
    assert t2.snapshots[0].source_snapshots == originals
    assert t2.to_df(spark).count() == 500
    # time travel to an ORIGINAL id still works
    mid = originals[2]
    assert t2.to_df(spark, as_of_snapshot=mid).count() == 300
    # idempotence: a second call with one live entry is a no-op
    assert t2.rewrite_manifests() is None


def test_rewrite_manifests_changes_between_invariant(spark, wh):
    t = _appended_table(spark, wh, n_appends=4)
    originals = [s.snapshot_id for s in t.snapshots]
    pre = {
        r["k"]
        for r in t.changes_between(
            spark, originals[0], originals[2]
        ).collect()
    }
    t.rewrite_manifests()
    # historic range: invariant
    post = {
        r["k"]
        for r in t.changes_between(
            spark, originals[0], originals[2]
        ).collect()
    }
    assert post == pre
    # OPEN-ENDED incremental consumer: the rewrite is skipped, appends
    # after it stream through — rewrite_manifests must never poison a
    # from=last_seen CDC loop (Iceberg skips 'replace' the same way)
    t.append(_src(spark, 400, 450).coalesce(1))
    delta = t.changes_between(spark, originals[-1], None)
    assert {r["k"] for r in delta.collect()} == set(range(400, 450))
    # and the changelog emits nothing for the rewrite itself
    log = t.changelog_between(spark, originals[-1], None)
    assert log.filter(F.col("_change_type") == "delete").count() == 0
    assert log.count() == 50


def test_rewrite_manifests_guards_and_recursion(spark, wh):
    t = _appended_table(spark, wh, n_appends=3)
    # live merge-on-read delete: refused with guidance
    t.delete_where(spark, "k < 10", strategy="merge_on_read")
    with pytest.raises(TableFormatError, match="compact"):
        t.rewrite_manifests()
    t.compact(spark)
    assert t.rewrite_manifests() is None  # single live entry: no-op
    # appends after a fold, then a SECOND fold: recursion through the
    # first rewrite resolves to real dirs
    for i in range(3, 6):
        t.append(_src(spark, i * 100, (i + 1) * 100).coalesce(1))
    first = t.rewrite_manifests()
    t.append(_src(spark, 600, 650).coalesce(1))
    second = t.rewrite_manifests()
    assert first is not None and second is not None
    assert first.snapshot_id in second.source_snapshots
    df = t.to_df(spark)
    assert df.count() == 640  # 600 minus the 10 deleted, plus 50
    assert df.filter(F.col("k") < 10).count() == 0


def test_rewrite_manifests_keeps_metadata_tables(spark, wh):
    """The files and partitions tables are fold-invariant on a
    spec-evolved table: every file keeps the snapshot that wrote it
    and the spec it was written under."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )

    cat = LakeCatalog(wh)
    spec0 = compile_partition_spec({"partitions": [{"column_name": "g"}]})
    t = cat.create_table(
        "d", "ms", _src(spark, 0, 1).schema, partition_spec=spec0
    )
    t.append(_src(spark, 0, 20))
    t.commit_spec(
        compile_partition_spec(
            {"partitions": [{"column_name": "k"}]}, start_field_id=1001
        )
    )
    t.append(_src(spark, 20, 23))

    def _tables():
        # full rows; str() because map columns collect as dicts
        return [
            sorted(str(r) for r in df.collect())
            for df in (t.partitions_df(spark), t.files_df(spark))
        ]

    pre = _tables()
    assert t.rewrite_manifests() is not None
    assert _tables() == pre
    assert {r["spec_id"] for r in t.partitions_df(spark).collect()} == {0, 1}


@_FOLDS
def test_rewrite_manifests_expire_keeps_source_dirs(spark, wh, folds):
    t = _appended_table(
        spark, wh, n_appends=4, fold_after=_earlier_folds(folds)
    )
    t.rewrite_manifests()
    # expire everything expirable: the sources are tombstoned but
    # their dirs survive — the live fold still reads through them
    t.expire_snapshots(retain_last=1)
    assert t.to_df(spark).count() == 400
    # original ids are no longer time-travelable (tombstoned)...
    hist = [s for s in t.all_snapshots() if s.expired]
    assert hist, "sources should be tombstoned, not dropped"
    with pytest.raises(TableFormatError, match="expired"):
        t.to_df(spark, as_of_snapshot=hist[0].snapshot_id)
    # ...and remove_orphan_files must not reap their dirs either
    assert t.remove_orphan_files() == []
    assert t.to_df(spark).count() == 400


def test_rewrite_manifests_expire_keeps_intermediate_fold(spark, wh):
    """Expiring ALL history under a two-level fold keeps the earlier
    fold's entry: the live fold resolves through it to the real dirs."""
    import time

    t = _appended_table(spark, wh, n_appends=3, fold_after=(2,))
    t.rewrite_manifests()
    time.sleep(0.002)
    expired = t.expire_snapshots(older_than_ms=int(time.time() * 1000))
    assert len(expired) == 4  # three appends + the first fold
    assert t.to_df(spark).count() == 300
    assert t.remove_orphan_files() == []


def test_rewrite_manifests_compact_and_rollback_compose(spark, wh):
    t = _appended_table(spark, wh, n_appends=3)
    originals = [s.snapshot_id for s in t.snapshots]
    mr = t.rewrite_manifests()
    # rollback to a pre-fold id restores the original live list
    t.rollback_to_snapshot(originals[1])
    assert [s.snapshot_id for s in t.snapshots] == originals[:2]
    assert t.to_df(spark).count() == 200
    # re-fold, then compact(): the data fold consumes the manifest
    # fold's expansion and leaves one REAL data snapshot
    mr = t.rewrite_manifests()
    assert mr is not None
    t.compact(spark, target_files=2)
    live = t.snapshots
    assert len(live) == 1 and live[0].data_dir
    assert t.to_df(spark).count() == 200


def test_rewrite_manifests_ddl_call(spark, wh):
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend

    t = _appended_table(spark, wh, n_appends=3)
    ddl = DdlFrontend(spark, LakeCatalog(wh))
    r = ddl.sql("CALL system.rewrite_manifests('d.m')")
    assert not r.has_error, r.message_list
    assert "folded 3 live manifest list(s)" in r.message_list[-1]
    t = LakeCatalog(wh).load_table("d", "m")
    assert len(t.snapshots) == 1
    assert t.to_df(spark).count() == 300
    # no-op message on the second call
    r = ddl.sql("CALL system.rewrite_manifests('d.m')")
    assert not r.has_error
    assert "no-op" in r.message_list[-1]


@_FOLDS
def test_rewrite_manifests_export_invariant(spark, wh, folds):
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
        read_iceberg_table,
    )

    t = _appended_table(
        spark, wh, n_appends=3, fold_after=_earlier_folds(folds)
    )
    pre_doc = json.loads(
        sorted(export_to_iceberg(t).glob("v*.metadata.json"))[-1].read_text()
    )
    t.rewrite_manifests()
    meta_dir = export_to_iceberg(t)
    post_doc = json.loads(
        sorted(meta_dir.glob("v*.metadata.json"))[-1].read_text()
    )
    # the exported lineage is IDENTICAL: same snapshot ids, same
    # current pointer — external readers never see the engine-side fold
    assert [s["snapshot-id"] for s in post_doc["snapshots"]] == [
        s["snapshot-id"] for s in pre_doc["snapshots"]
    ]
    assert (
        post_doc["current-snapshot-id"] == pre_doc["current-snapshot-id"]
    )
    # and the second engine reads the same values
    back, _doc = read_iceberg_table(spark, t.location)
    assert back.count() == 300


def test_rewrite_manifests_streaming_skips_and_base_loads(spark, wh):
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.streaming.lake_source import (
        LakeStreamReader,
        _META_FIELDS,
    )

    t = _appended_table(spark, wh, n_appends=3)
    stream_schema = T.StructType(list(t.schema.fields) + _META_FIELDS)
    # a RUNNING stream consumed everything...
    r = LakeStreamReader(str(t.location), stream_schema)
    caught_up = r.latestOffset()
    assert r.partitions(r.initialOffset(), caught_up)  # sanity
    # ...then maintenance folds the manifests and an append lands
    t.rewrite_manifests()
    t.append(_src(spark, 300, 350).coalesce(1))
    nxt = r.latestOffset()
    parts = r.partitions(caught_up, nxt)  # must NOT wedge on the fold
    assert len(parts) == 1  # only the new append's file, no re-delivery
    # a FRESH stream base-loads from the fold (full state, one grant)
    r2 = LakeStreamReader(str(t.location), stream_schema)
    start = r2.initialOffset()
    assert "base" in start
    end = r2.latestOffset()
    parts2 = r2.partitions(start, end)
    assert len(parts2) == 4  # 3 folded base files + the new append

def test_rewrite_manifests_capped_stream_walks_over_fold(spark, wh):
    """A CAPPED distributed stream mid-walk when the fold lands: the
    quantum arithmetic (_advance) must count the fold as ZERO files —
    matching _plan_files' skip — or the walk would chunk into the fold
    and re-deliver rows the consumer already holds."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.streaming.lake_source import (
        LakeStreamReader,
        _META_FIELDS,
    )

    t = _appended_table(spark, wh, n_appends=3)
    stream_schema = T.StructType(list(t.schema.fields) + _META_FIELDS)
    r = LakeStreamReader(str(t.location), stream_schema, max_files=1)
    prev = r.initialOffset()
    seen: list[str] = []
    # consume the 3 appends at cap 1
    for _ in range(3):
        end = r.latestOffset()
        seen += [p.file_path for p in r.partitions(prev, end)]
        r.commit(end)
        prev = end
    assert len(seen) == 3 and len(set(seen)) == 3
    # the fold lands, then two more single-file appends
    t.rewrite_manifests()
    t.append(_src(spark, 300, 350).coalesce(1))
    t.append(_src(spark, 350, 400).coalesce(1))
    new: list[str] = []
    for _ in range(4):  # generous; must drain in <= cap walks
        end = r.latestOffset()
        new += [p.file_path for p in r.partitions(prev, end)]
        r.commit(end)
        if r._pos(end) == r._pos(prev):
            break
        prev = end
    # exactly the two new appends; nothing from the fold re-delivered
    assert len(new) == 2, new
    assert not (set(new) & set(seen))

def test_rewrite_manifests_capped_fresh_stream_chunks_base(spark, wh):
    """r13 review finding: a FRESH capped distributed stream whose
    base snapshot is a manifest rewrite must chunk the fold under the
    cap — the grant-less speculation used to hand the entire union to
    one uncapped batch. The grant rides the instance's own
    initialOffset (the engine calls it only for genuinely new
    streams), so chunk ends carry it and restarts resume mid-fold."""
    from pyspark.sql import types as T

    from sample_iceberg_schema_evolution_pyiceberg_spark.streaming.lake_source import (
        LakeStreamReader,
        _META_FIELDS,
    )

    t = _appended_table(spark, wh, n_appends=4)  # 4 single-file appends
    t.rewrite_manifests()  # fold: 4-file union, seq 5
    stream_schema = T.StructType(list(t.schema.fields) + _META_FIELDS)
    r = LakeStreamReader(str(t.location), stream_schema, max_files=2)
    prev = r.initialOffset()
    assert prev.get("base") == 5
    batches: list[int] = []
    seen: set[str] = set()
    for _ in range(5):
        end = r.latestOffset()
        parts = r.partitions(prev, end)
        if parts:
            batches.append(len(parts))
            seen.update(p.file_path for p in parts)
        r.commit(end)
        if r._pos(end) == r._pos(prev):
            break
        prev = end
    # the cap held on EVERY batch and the fold fully delivered
    assert batches == [2, 2], batches
    assert len(seen) == 4
    # restart mid-fold: the checkpointed chunk end carries the grant,
    # so a fresh instance resumes without data loss or duplicates
    r2 = LakeStreamReader(str(t.location), stream_schema, max_files=2)
    ckpt = {"seq": 5, "file": 2, "base": 5}  # batch-1 end, WAL-replayed
    end2 = r2.latestOffset()  # restarted: no initialOffset call
    parts2 = r2.partitions(ckpt, end2)
    r2.commit(end2)
    got = {p.file_path for p in parts2}
    if not got:  # clamped bootstrap batch: converge next round
        end3 = r2.latestOffset()
        got = {p.file_path for p in r2.partitions(end2, end3)}
    assert len(got) == 2 and got < seen  # exactly the remaining half
    # a RESTARTED pre-fold consumer must get NOTHING from the fold
    r3 = LakeStreamReader(str(t.location), stream_schema, max_files=2)
    ckpt3 = {"seq": 4}  # consumed all four appends pre-fold
    delivered: list[str] = []
    prev3 = ckpt3
    for _ in range(6):
        e = r3.latestOffset()
        delivered += [p.file_path for p in r3.partitions(prev3, e)]
        r3.commit(e)
        if r3._pos(e) == r3._pos(prev3):
            break
        prev3 = e
    assert delivered == [], delivered

def test_add_files_and_fold_revert_on_failed_commit(spark, wh):
    """r13 review finding: add_files and rewrite_manifests must revert
    the in-memory handle when the metadata commit fails — a retry on a
    poisoned handle would publish the phantom snapshot AND the retry's,
    double-importing every row."""
    t = _appended_table(spark, wh, n_appends=3)
    src = wh + "_src"
    _src(spark, 900, 950).coalesce(1).write.parquet(src)

    def _boom(*a, **kw):
        raise RuntimeError("simulated commit failure")

    orig = t._commit
    t._commit = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            t.add_files(src)
        with pytest.raises(RuntimeError, match="simulated"):
            t.rewrite_manifests()
    finally:
        t._commit = orig
    # handle clean: 3 live appends, original sequence number
    assert len(t.snapshots) == 3
    assert int(t.meta["last_sequence_number"]) == 3
    # the retry imports exactly once
    snap = t.add_files(src)
    assert t.to_df(spark).count() == 350
    assert t.to_df(spark).filter("k >= 900").count() == 50
    # the orphaned first-attempt dir is reapable, the committed one not
    orphans = t.remove_orphan_files()
    assert len(orphans) == 1 and snap.data_dir not in orphans
    assert t.to_df(spark).count() == 350
