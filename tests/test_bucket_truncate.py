"""bucket[N] / truncate[W] partition transforms (VERDICT r8 item 1):
Iceberg-spec hash parity, Catalyst-expression-vs-python-twin agreement,
hidden pruning soundness, the lake write/read/prune round-trip in both
layouts, the Spark-bucket-layout zero-exchange join, DDL round-trip,
and spec export serialization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
    PartitionField,
    compile_partition_spec,
    iceberg_bucket_of,
    murmur3_32,
    spark_bucket_of,
    spark_hash_long,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    _partition_value_may_match,
)


# ---------------------------------------------------------------------------
# hash parity (pure python, no Spark)
# ---------------------------------------------------------------------------


def test_murmur3_iceberg_spec_vectors():
    """The four Appendix B vectors from the public Iceberg spec."""
    import struct

    assert murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert murmur3_32(b"iceberg") == 1210000089
    assert murmur3_32(struct.pack("<q", 17486)) == -653330422  # date
    assert murmur3_32(struct.pack("<q", 1510871468000000)) == -2047944441

    # spec: bucket id = (hash & Integer.MAX_VALUE) % N
    assert iceberg_bucket_of(34, 16) == (2017239379 & 0x7FFFFFFF) % 16
    assert iceberg_bucket_of("iceberg", 16) == (1210000089 & 0x7FFFFFFF) % 16


def test_bucket_literal_unhashable_types_decline():
    assert iceberg_bucket_of(True, 8) is None  # bool is not an int key
    assert iceberg_bucket_of(None, 8) is None
    assert iceberg_bucket_of(1.5, 8) is None  # float buckets unsupported


# ---------------------------------------------------------------------------
# Catalyst expression == python twin
# ---------------------------------------------------------------------------


def test_bucket_expression_matches_python_twin(spark):
    df = spark.range(-40000, 40000, 997).select(
        F.col("id").cast("bigint").alias("v")
    )
    pf = PartitionField("v", "bucket[32]", "v_bucket", 1000)
    rows = df.select("v", pf.expression(T.LongType()).alias("b")).collect()
    assert rows and all(r.b == iceberg_bucket_of(r.v, 32) for r in rows)


def test_spark_hash_twin_matches_f_hash(spark):
    df = spark.range(-5000, 5000, 313).select(
        F.col("id").cast("bigint").alias("v")
    )
    rows = df.select("v", F.hash("v").alias("h")).collect()
    assert rows and all(r.h == spark_hash_long(r.v) for r in rows)


def test_truncate_expressions(spark):
    df = spark.createDataFrame(
        [(-7,), (-10,), (0,), (3,), (1007,)], "v bigint"
    )
    pf = PartitionField("v", "truncate[10]", "v_trunc", 1000)
    rows = df.select("v", pf.expression(T.LongType()).alias("t")).collect()
    # spec floor semantics: -7 -> -10, -10 -> -10, 3 -> 0, 1007 -> 1000
    assert {(r.v, r.t) for r in rows} == {
        (-7, -10), (-10, -10), (0, 0), (3, 0), (1007, 1000)
    }
    sdf = spark.createDataFrame([("hello",), ("ab",), (None,)], "s string")
    ps = PartitionField("s", "truncate[3]", "s_trunc", 1001)
    srows = sdf.select("s", ps.expression(T.StringType()).alias("t")).collect()
    assert {(r.s, r.t) for r in srows} == {
        ("hello", "hel"), ("ab", "ab"), (None, None)
    }


def test_bucket_string_udf_matches_twin(spark):
    sdf = spark.createDataFrame(
        [("iceberg",), ("",), ("a longer doc text",), (None,)], "s string"
    )
    pf = PartitionField("s", "bucket[16]", "s_bucket", 1000)
    rows = sdf.select("s", pf.expression(T.StringType()).alias("b")).collect()
    for r in rows:
        assert r.b == (None if r.s is None else iceberg_bucket_of(r.s, 16))


# ---------------------------------------------------------------------------
# pruning soundness
# ---------------------------------------------------------------------------


def test_bucket_prunes_equality_only():
    b = PartitionField("k", "bucket[8]", "k_bucket", 1000)
    # = / IN: a file in a bucket no literal hashes to is skipped
    eq_other = str((iceberg_bucket_of(42, 8) + 1) % 8)
    assert not _partition_value_may_match(b, eq_other, "=", 42)
    in_other = next(
        v for v in range(8)
        if v not in (iceberg_bucket_of(1, 8), iceberg_bucket_of(2, 8))
    )
    assert not _partition_value_may_match(b, str(in_other), "in", [1, 2])
    # hash destroys order: ranges never prune, whatever the bucket
    for v in range(8):
        assert _partition_value_may_match(b, str(v), ">=", 42)
        assert _partition_value_may_match(b, str(v), "<", 42)


def test_partition_value_match_bucket_and_truncate():
    b = PartitionField("k", "bucket[8]", "k_bucket", 1000)
    the_bucket = iceberg_bucket_of(42, 8)
    assert _partition_value_may_match(b, str(the_bucket), "=", 42)
    assert not _partition_value_may_match(
        b, str((the_bucket + 1) % 8), "=", 42
    )
    assert _partition_value_may_match(b, "3", ">=", 42)  # cannot prune
    t = PartitionField("v", "truncate[100]", "v_trunc", 1001)
    assert _partition_value_may_match(t, "400", "=", 455)
    assert not _partition_value_may_match(t, "300", "=", 455)
    assert _partition_value_may_match(t, "400", ">=", 455)
    assert not _partition_value_may_match(t, "300", ">=", 455)
    assert not _partition_value_may_match(t, "500", "<=", 455)
    # NULL-sentinel partition: whole file is NULL for the source —
    # satisfies no comparison, provably skippable
    assert not _partition_value_may_match(t, None, "=", 455)


# ---------------------------------------------------------------------------
# lake round-trips
# ---------------------------------------------------------------------------


def _src(spark, n=2000):
    return spark.range(0, n).select(
        F.col("id").alias("k"),
        F.concat(F.lit("c"), (F.col("id") % 5).cast("string")).alias("s"),
        (F.col("id") * 3).alias("val"),
    )


def test_iceberg_dir_layout_roundtrip_and_prune(spark, tmp_path):
    src = _src(spark)
    cat = LakeCatalog(tmp_path / "wh")
    tbl = cat.create_table(
        "db",
        "bt",
        src.schema,
        partition_spec=compile_partition_spec(
            {
                "partitions": [
                    {"column_name": "k", "transform": "bucket[8]"},
                    {"column_name": "val", "transform": "truncate[1000]"},
                ]
            }
        ),
    )
    tbl.append(src)
    assert tbl.to_df(spark).count() == 2000
    # equality pruning through bucket dirs: exact rows, and the
    # manifest keeps only the matching bucket's files
    got = tbl.to_df(spark, pruning=[("k", "=", 77)]).collect()
    assert [(r.k, r.val) for r in got] == [(77, 231)]
    snap = tbl.snapshots[-1]
    want = str(iceberg_bucket_of(77, 8))
    in_bucket = [
        f for f in snap.files if f["partition"]["k_bucket"] == want
    ]
    assert 0 < len(in_bucket) < len(snap.files)
    # range pruning through truncate dirs
    assert tbl.to_df(spark, pruning=[("val", ">=", 5400)]).count() == 200
    # a range predicate on the BUCKET source stays correct (no rewrite)
    assert tbl.to_df(spark, pruning=[("k", ">=", 1995)]).count() == 5


def test_spark_bucket_layout_zero_exchange_join(spark, tmp_path):
    from sample_iceberg_schema_evolution_pyiceberg_spark.plans import (
        physical_plan,
    )

    f1 = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    f2 = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[8]"}]}
    )
    t1 = cat.create_table(
        "db", "f1", f1.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    t2 = cat.create_table(
        "db", "f2", f2.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    t1.append(f1)
    t2.append(f2)
    # one file per bucket, spark-bucket layout on record
    assert len(t1.snapshots[-1].files) == 8
    assert all(
        f.get("layout") == "spark-bucket" for f in t1.snapshots[-1].files
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t1.to_df(spark).join(t2.to_df(spark), "k").select(
            (F.col("a") + F.col("b")).alias("v")
        )
        plan = physical_plan(j)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() == 20000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    # manifest-level =-pruning via the SPARK hash twin
    got = t1.to_df(spark, pruning=[("k", "=", 777)]).collect()
    assert [(r.k, r.a) for r in got] == [(777, 1554)]
    want = spark_bucket_of(777, 8)
    kept = [
        f
        for f in t1.snapshots[-1].files
        if f["partition"]["k_bucket"] == want
    ]
    assert len(kept) == 1


def test_bucket_layout_and_partition_tuples_survive_reload(spark, tmp_path):
    """The manifest's per-file partition tuples and spark-bucket layout
    markers must survive the metadata JSON round-trip: before the fix
    the serializer dropped both, so a RELOADED handle (any new session
    — the production case) silently lost bucket adoption (the join
    re-exchanged, measured 1.9x slower at sf10) and manifest partition
    pruning, while same-handle gate episodes kept passing."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.plans import (
        physical_plan,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeTable,
    )

    f1 = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[8]"}]}
    )
    t1 = cat.create_table(
        "db", "rf1", f1.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    t1.append(f1)

    fresh = LakeTable.load(tmp_path / "wh" / "db" / "rf1")
    snap = fresh.snapshots[-1]
    assert all(f.get("layout") == "spark-bucket" for f in snap.files)
    assert all("partition" in f for f in snap.files)

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        lhs = fresh.to_df(spark)
        rhs = fresh.to_df(spark).select(
            F.col("k"), F.col("a").alias("a2")
        )
        j = lhs.join(rhs, "k").select(
            (F.col("a") + F.col("a2")).alias("v")
        )
        plan = physical_plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == 20000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
    # manifest =-pruning works on the reloaded handle too
    got = fresh.to_df(spark, pruning=[("k", "=", 777)]).collect()
    assert [(r.k, r.a) for r in got] == [(777, 1554)]
    want = spark_bucket_of(777, 8)
    kept = [
        f for f in snap.files if f["partition"]["k_bucket"] == want
    ]
    assert len(kept) == 1


def test_spark_bucket_layout_survives_append_and_deletes(spark, tmp_path):
    """Append chains and MoR masks stay value-identical. (Append
    fragments in fact KEEP adoption — Spark 4 propagates compatible
    bucketing through the union, asserted in
    test_compact_restores_bucket_layout_adoption — so the plain-scan
    fallback is only the MoR/mixed-spec escape hatch.)"""
    f1 = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
    )
    t1 = cat.create_table(
        "db", "f1", f1.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    t1.append(f1)
    t1.append(
        spark.range(100, 150).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("a")
        )
    )
    assert t1.to_df(spark).count() == 150
    t1.delete_where(spark, "k >= 140")
    t1 = t1.refresh()
    assert t1.to_df(spark).count() == 140


def test_compact_restores_bucket_layout_adoption(spark, tmp_path):
    """The production lifecycle of a bucketed fact under appends: each
    append snapshot adopts as its own bucketed scan and Spark 4
    propagates compatible bucketing THROUGH the union, so even the
    fragmented table joins with zero exchange (stronger than the
    documented per-snapshot guarantee); compact() then folds the
    fragments into ONE spark-bucket snapshot (rewrite_data_files' job)
    and the join stays exchange-free with a single scan per side."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.plans import (
        physical_plan,
    )

    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
    )
    schema = spark.range(0).select(
        F.col("id").alias("k"), F.col("id").alias("a")
    ).schema
    t1 = cat.create_table(
        "db", "cf1", schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    t1.append(spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    ))
    t1.append(spark.range(10000, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    ))
    t2 = cat.create_table(
        "db", "cf2", t1.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    t2.append(spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    ).withColumnRenamed("b", "a"))

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        def join_plan():
            rhs = t2.to_df(spark).select(
                F.col("k"), F.col("a").alias("a2")
            )
            j = t1.to_df(spark).join(rhs, "k")
            return physical_plan(j), j

        plan, j = join_plan()
        # fragmented (2 snapshots): union of identically-bucketed
        # scans still satisfies the join's distribution — no exchange
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 3  # 2 fragments + rhs
        assert j.count() == 20000

        t1.compact(spark)
        assert len([s for s in t1.snapshots if not s.is_row_delete]) >= 1
        snap = t1.snapshots[-1]
        assert all(
            f.get("layout") == "spark-bucket" for f in snap.files
        )
        plan, j = join_plan()
        assert "Exchange" not in plan, plan
        assert plan.count("Bucketed: true") == 2  # folded to one scan
        assert "Union" not in plan
        assert j.count() == 20000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


# ---------------------------------------------------------------------------
# DDL + export
# ---------------------------------------------------------------------------


def test_ddl_bucket_truncate_roundtrip(spark, tmp_path):
    from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend

    ddl = DdlFrontend(spark, LakeCatalog(tmp_path / "wh"))
    r = ddl.sql(
        "CREATE TABLE d.bt (k BIGINT, s STRING, v INT) "
        "PARTITIONED BY (bucket(16, k), truncate(4, s)) "
        "TBLPROPERTIES ('note' = 'it''s quoted')"
    )
    assert not r.has_error, r.message_list
    t = ddl.catalog.load_table("d", "bt")
    assert [(f.source_column, f.transform, f.name) for f in t.partition_spec.fields] == [
        ("k", "bucket[16]", "k_bucket"),
        ("s", "truncate[4]", "s_trunc"),
    ]
    assert t.properties["note"] == "it's quoted"
    # SHOW CREATE emits re-parseable DDL (quotes escaped, two-arg
    # transforms rendered back)
    stmt = ddl.query("SHOW CREATE TABLE d.bt").collect()[0][0]
    assert "bucket(16, k)" in stmt and "truncate(4, s)" in stmt
    assert "'it''s quoted'" in stmt
    r2 = ddl.sql(stmt.replace("d.bt", "d.bt2"))
    assert not r2.has_error, r2.message_list
    t2 = ddl.catalog.load_table("d", "bt2")
    assert [f.transform for f in t2.partition_spec.fields] == [
        "bucket[16]", "truncate[4]"
    ]
    assert t2.properties["note"] == "it's quoted"
    # argument-order tolerance: truncate(col, W)
    r3 = ddl.sql(
        "CREATE TABLE d.bt3 (s STRING) PARTITIONED BY (truncate(s, 2))"
    )
    assert not r3.has_error
    assert ddl.catalog.load_table("d", "bt3").partition_spec.fields[0].transform == "truncate[2]"


def test_export_serializes_bucket_truncate_and_voids_spark_layout(
    spark, tmp_path
):
    import json

    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
    )

    src = _src(spark, 50)
    cat = LakeCatalog(tmp_path / "wh")
    spec = compile_partition_spec(
        {
            "partitions": [
                {"column_name": "k", "transform": "bucket[8]"},
                {"column_name": "val", "transform": "truncate[1000]"},
            ]
        }
    )
    t = cat.create_table("db", "ex", src.schema, partition_spec=spec)
    t.append(src)
    export_to_iceberg(t)
    meta = json.loads(
        sorted((t.location / "metadata").glob("v*.metadata.json"))[-1]
        .read_text()
    )
    tr = {
        f["name"]: f["transform"]
        for f in meta["partition-specs"][-1]["fields"]
    }
    assert tr == {"k_bucket": "bucket[8]", "val_trunc": "truncate[1000]"}

    # Spark-layout table: the bucket field exports as void (its
    # physical ids use Spark's hash, not the spec's murmur3-seed-0)
    t2 = cat.create_table(
        "db", "exs",
        spark.range(0, 50).select(F.col("id").alias("k")).schema,
        partition_spec=compile_partition_spec(
            {"partitions": [{"column_name": "k", "transform": "bucket[8]"}]}
        ),
        properties={"write.bucket-layout": "spark"},
    )
    t2.append(spark.range(0, 50).select(F.col("id").alias("k")))
    export_to_iceberg(t2)
    meta2 = json.loads(
        sorted((t2.location / "metadata").glob("v*.metadata.json"))[-1]
        .read_text()
    )
    assert [
        f["transform"] for f in meta2["partition-specs"][-1]["fields"]
    ] == ["void"]


def test_compact_folds_spark_bucket_files(spark, tmp_path):
    """compact() on a fragmented spark-bucket-layout table must fold
    to ONE file per bucket. Regression for a live sf100 bug: the
    optimizer removed the write path's plain repartition(N, key) as
    redundant over a union of already-bucket-partitioned adopted
    scans, so 10 appends 'compacted' to 10 files per bucket — the
    write now repartitions on the explicit bucket-id expression,
    which is not elidable and lands each bucket wholly in one task."""
    import collections

    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _SPARK_BUCKET_FILE_RE,
        LakeCatalog,
    )

    cat = LakeCatalog(str(tmp_path / "wh"))
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[8]"}]}
    )
    df = spark.range(0, 30000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    t = cat.create_table(
        "d", "c", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark"},
    )
    for i in range(3):
        t.append(
            df.filter(
                (F.col("k") >= i * 10000) & (F.col("k") < (i + 1) * 10000)
            )
        )
    t.compact(spark)
    files = t.snapshots[-1].files
    cnt = collections.Counter(
        int(_SPARK_BUCKET_FILE_RE.search(f["path"]).group(1))
        for f in files
    )
    assert len(files) == 8 and all(v == 1 for v in cnt.values()), cnt
    assert t.to_df(spark).count() == 30000


def test_lineage_survives_bucket_layout_compaction(spark, tmp_path):
    """a43 x bucket layouts: lineage carries through compact() on
    spark-bucket, dual, and plain hive-murmur layouts — the bucket
    writers pass the physical lineage columns through, and the
    lineage read skips catalog adoption (which would hide them)."""
    from pyspark.sql import functions as F

    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    src = spark.range(0, 20).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
    )
    for name, props in (
        ("b_spark", {"write.bucket-layout": "spark"}),
        ("b_dual", {"write.bucket-layout": "dual"}),
        ("b_hive", {}),
    ):
        t = cat.create_table(
            "db", name, src.schema, partition_spec=spec,
            properties=props,
        )
        t.append(src)
        t = cat.load_table("db", name)
        pre = {r.k: r._row_id for r in t.lineage_df(spark).collect()}
        t.compact(spark)
        t = cat.load_table("db", name)
        post = {r.k: r._row_id for r in t.lineage_df(spark).collect()}
        assert post == pre, name
        assert t.to_df(spark).columns == ["k", "v"], name
