"""The commit manifest (``Snapshot.files``) is the one answer to "which
files does this entry hold": metadata written before commit-time
manifests is backfilled once at load, and the driver-side readers (the
files and partitions tables, the top-k bound, the export and the log
stream) never list a directory. Iceberg's scan planning works the same
way: a snapshot holds exactly the files its manifests list."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
    export_to_iceberg,
    read_iceberg_table,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
    compile_partition_spec,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    LakeTable,
)


def _src(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("g"),
        (F.col("id") * 2).alias("v"),
    )


def _doc_entries(doc):
    return [
        *doc["snapshots"],
        *doc.get("snapshot-history", []),
        *(e for b in doc.get("branches", {}).values() for e in b["snapshots"]),
    ]


def _current_doc_path(t) -> Path:
    return Path(LakeTable.load(t.location).loaded_from)


def _strip_manifests(t) -> LakeTable:
    """Rewrite the current metadata file without any entry's manifest
    (the shape of metadata written before commit-time manifests) and
    load it again."""
    path = _current_doc_path(t)
    doc = json.loads(path.read_text())
    for e in _doc_entries(doc):
        e.pop("manifest", None)
    path.write_text(json.dumps(doc))
    return LakeTable.load(t.location)


def _stream_rows(spark, t, tmp_path, name):
    q = (
        t.stream_changes(spark)
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / f"chk_{name}"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return sorted(tuple(r) for r in spark.table(name).collect())


def _rows(df):
    # str() because map columns collect as dicts
    return sorted(str(r) for r in df.collect())


def _metadata_reads(spark, t):
    return {
        "files": _rows(t.files_df(spark)),
        "partitions": _rows(t.partitions_df(spark)),
        "pruned": _rows(t.to_df(spark, pruning=[("k", ">=", 40)])),
        "topk": t.topk_prune_threshold("k", 2),
    }


def test_pre_manifest_metadata_reads_like_current(spark, tmp_path):
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec({"partitions": [{"column_name": "g"}]})
    t = cat.create_table(
        "db", "pm", _src(spark, 0, 1).schema, partition_spec=spec
    )
    t.append(_src(spark, 0, 30))
    t.append(_src(spark, 30, 60))

    # appends only: the stream can read the table
    want = _metadata_reads(spark, t)
    want["stream"] = _stream_rows(spark, t, tmp_path, "pm_full")
    assert want["topk"] is not None
    old = _strip_manifests(t)
    assert all(s.files for s in old.snapshots)
    got = _metadata_reads(spark, old)
    got["stream"] = _stream_rows(spark, old, tmp_path, "pm_stripped")
    assert got == want
    assert len(want["stream"]) == 60

    # an equality-key MERGE, a position delete and a tag, committed
    # from the handle that holds the original manifests
    t.merge_into(
        spark, _src(spark, 55, 65), ["k"],
        when_matched_update={"v": "0"}, strategy="merge_on_read",
    )
    t.delete_where(spark, "k = 3", strategy="merge_on_read_position")
    t.create_tag("t1")

    def _reads(tbl):
        out = _metadata_reads(spark, tbl)
        export_to_iceberg(tbl, spark)
        back, _doc = read_iceberg_table(spark, tbl.location)
        out["export"] = _rows(back)
        return out

    want = _reads(t)
    old = _strip_manifests(t)
    assert _reads(old) == want
    assert len(want["export"]) == 64

    # the next commit writes the manifests back
    old.create_tag("t2")
    doc = json.loads(_current_doc_path(old).read_text())
    owning = [
        e
        for e in _doc_entries(doc)
        if e["data-dir"] or e.get("delete-keys-dir") or e.get("delete-pos-dir")
    ]
    assert owning and all(e.get("manifest") for e in owning)


def test_manifest_bounds_export_and_stream(spark, tmp_path):
    """A stray parquet file inside a committed snapshot dir (crashed
    write debris) is not part of the snapshot: the export and the log
    stream serve the manifest's rows only."""
    cat = LakeCatalog(tmp_path / "wh")
    t = cat.create_table("db", "stray", _src(spark, 0, 1).schema)
    snap = t.append(_src(spark, 0, 40).repartition(4))
    written = sorted((t.location / snap.data_dir).rglob("*.parquet"))
    assert len(written) > 1
    shutil.copy(
        written[0], written[0].with_name("part-99999-stray.snappy.parquet")
    )
    assert sum(r["record_count"] for r in t.files_df(spark).collect()) == 40

    export_to_iceberg(t)
    back, _doc = read_iceberg_table(spark, t.location)
    assert sorted(r["k"] for r in back.collect()) == list(range(40))
    streamed = _stream_rows(spark, t, tmp_path, "stray")
    assert sorted(r[0] for r in streamed) == list(range(40))


def test_manifest_bounds_every_table_scan(spark, tmp_path):
    """The same stray file is not part of the table for a Spark scan
    either: ``files_df``, ``to_df`` and ``changelog_between`` all see
    the manifest's 40 rows, so ``compact()`` (which rewrites exactly
    the listed files) leaves the visible row count unchanged."""
    cat = LakeCatalog(tmp_path / "wh")
    t = cat.create_table("db", "stray_scan", _src(spark, 0, 1).schema)
    snap = t.append(_src(spark, 0, 40).repartition(4))
    written = sorted((t.location / snap.data_dir).rglob("*.parquet"))
    assert len(written) == 4
    shutil.copy(
        written[0], written[0].with_name("part-99999-stray.snappy.parquet")
    )
    assert sum(r["record_count"] for r in t.files_df(spark).collect()) == 40
    assert t.to_df(spark).count() == 40
    assert t.changelog_between(spark).count() == 40
    t.compact(spark)
    assert t.to_df(spark).count() == 40


def test_manifest_bounds_bucket_layout_scan(spark, tmp_path):
    """A Spark-bucket-layout snapshot scans through a catalog table
    rooted at its dir; a stray bucket file there makes the snapshot
    read from its manifest instead, so the stray rows stay out."""
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
    )
    t = cat.create_table(
        "db", "stray_bucket", _src(spark, 0, 1).schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    snap = t.append(_src(spark, 0, 40))
    assert t._adopt_bucketed_scan(spark, snap) is not None
    written = sorted((t.location / snap.data_dir).rglob("*.parquet"))
    src = next(p for p in written if pq.read_metadata(p).num_rows)
    shutil.copy(src, src.with_name("part-99999-stray" + src.name[10:]))
    assert sum(r["record_count"] for r in t.files_df(spark).collect()) == 40
    assert t._adopt_bucketed_scan(spark, snap) is None
    assert t.to_df(spark).count() == 40


def test_empty_partitioned_append_scans(spark, tmp_path):
    """An append of no rows to a partitioned table commits an entry
    with an empty manifest; scans and the changelog read it as no
    rows instead of failing to infer a schema from an empty dir."""
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec({"partitions": [{"column_name": "g"}]})
    t = cat.create_table(
        "db", "empty", _src(spark, 0, 1).schema, partition_spec=spec
    )
    t.append(_src(spark, 0, 10))
    assert t.append(_src(spark, 0, 10).filter("k < 0")).files == []
    assert t.to_df(spark).count() == 10
    assert t.changelog_between(spark).count() == 10
