"""Golden evolution tests: the v1 -> v2 `orders` episode end-to-end on
a real Spark session (SURVEY.md §5.1 / FIXTURES.md §B).

Asserts the reference's observable contract: CREATE then ALTER with the
exact adds/reorders/partition change, old-snapshot data readable under
the evolved schema (metadata-only evolution), and hidden-partition
pruning."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import types as T

from sample_iceberg_schema_evolution_pyiceberg_spark.handler import process_event
from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import LakeCatalog

ASSETS = Path(__file__).parent.parent / "sample_iceberg_schema_evolution_pyiceberg_spark" / "assets"


@pytest.fixture()
def catalog(tmp_path):
    return LakeCatalog(tmp_path / "warehouse")


def test_create_then_alter_golden(spark, catalog, tmp_path):
    # episode 1: CREATE + v1 data
    r1 = process_event(
        spark, catalog, str(ASSETS / "orders_v1.json"),
        output_dir=tmp_path / "out", generate_data_version="v1",
    )
    assert not r1.has_error, r1.message_list
    assert r1.change_type == "CREATE TABLE"
    assert r1.output_location and Path(r1.output_location).exists()

    t = catalog.load_table("customer_order", "orders")
    v1_rows = t.to_df(spark).count()
    assert v1_rows > 0
    assert [f.name for f in t.schema.fields] == [
        "order_time", "customer_name", "address", "order_items",
    ]
    assert [(f.source_column, f.transform) for f in t.partition_spec.fields] == [
        ("order_time", "year")
    ]

    # episode 2: ALTER to v2 + v2 data
    r2 = process_event(
        spark, catalog, str(ASSETS / "orders_v2.json"),
        generate_data_version="v2",
    )
    assert not r2.has_error, r2.message_list
    assert r2.change_type == "ALTER TABLE"
    msgs = " | ".join(r2.message_list)
    assert "Added column order_id" in msgs
    assert "Added column address.address_line" in msgs
    assert "Added column address.zip" in msgs
    assert "Added column order_items.element.item_count" in msgs
    assert "partition spec" in msgs

    t = catalog.load_table("customer_order", "orders")
    # column order matches v2 config (reorder pass)
    assert [f.name for f in t.schema.fields] == [
        "order_id", "order_time", "customer_name", "address", "order_items",
    ]
    addr = t.schema["address"].dataType
    assert [f.name for f in addr.fields] == [
        "address_line", "city", "state", "zip",
    ]
    elem = t.schema["order_items"].dataType.elementType
    assert [f.name for f in elem.fields] == ["item_id", "item_count", "price"]
    assert [(f.source_column, f.transform) for f in t.partition_spec.fields] == [
        ("order_time", "month")
    ]

    # old v1 snapshot rows surface under the evolved schema: new columns
    # null-filled, nested adds visible inside structs and array elements
    df = t.to_df(spark)
    assert df.count() > v1_rows
    assert _normalize(df.schema) == _normalize(t.schema)
    old = df.filter("order_id IS NULL")
    assert old.count() == v1_rows
    row = old.select("address.zip", "order_items").first()
    assert row["zip"] is None
    assert row["order_items"][0]["item_count"] is None


def _normalize(schema: T.StructType) -> T.StructType:
    """Compare names/types only: scans drop field-id metadata and Spark
    parquet scans are always-nullable regardless of declared required."""
    import json  # noqa: PLC0415

    d = json.loads(schema.json())

    def strip(node):
        if isinstance(node, dict):
            node.pop("metadata", None)
            if "nullable" in node:
                node["nullable"] = True
            if "containsNull" in node:
                node["containsNull"] = True
            if "valueContainsNull" in node:
                node["valueContainsNull"] = True
            for v in node.values():
                strip(v)
        elif isinstance(node, list):
            for v in node:
                strip(v)

    strip(d)
    return T.StructType.fromJson(d)


def test_legal_type_promotion_across_snapshots(spark, catalog, tmp_path):
    """int->long widening (the reference's only update class, A14):
    evolve the type, then scan pre-evolution snapshots under the new
    schema — old files align by cast, no rewrite."""
    import json

    def cfg(qty_type):
        return {
            "database_name": "promo_db",
            "table_name": "items",
            "columns": [
                {"column_name": "item_id", "data_type": "bigint",
                 "required": True},
                {"column_name": "qty", "data_type": qty_type},
                {"column_name": "note", "data_type": "string"},
            ],
        }

    v1 = tmp_path / "items_v1.json"
    v1.write_text(json.dumps(cfg("integer")))
    v2 = tmp_path / "items_v2.json"
    v2.write_text(json.dumps(cfg("bigint")))

    r1 = process_event(spark, catalog, str(v1))
    assert not r1.has_error and r1.change_type == "CREATE TABLE"
    t = catalog.load_table("promo_db", "items")
    assert t.schema["qty"].dataType == T.IntegerType()
    t.append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 20, "b")], "item_id long, qty int, note string"
        )
    )

    r2 = process_event(spark, catalog, str(v2))
    assert not r2.has_error, r2.message_list
    assert r2.change_type == "ALTER TABLE"
    assert any("qty" in m for m in r2.message_list)
    t = catalog.load_table("promo_db", "items")
    assert t.schema["qty"].dataType == T.LongType()
    # post-evolution append writes longs; pre-evolution files cast up
    t.append(
        spark.createDataFrame(
            [(3, 2**40, "c")], "item_id long, qty long, note string"
        )
    )
    df = t.to_df(spark)
    assert dict(df.dtypes)["qty"] == "bigint"
    got = {r["item_id"]: r["qty"] for r in df.collect()}
    assert got == {1: 10, 2: 20, 3: 2**40}


def test_idempotent_second_run_no_changes(spark, catalog):
    r1 = process_event(spark, catalog, str(ASSETS / "orders_v1.json"))
    assert r1.change_type == "CREATE TABLE"
    r2 = process_event(spark, catalog, str(ASSETS / "orders_v1.json"))
    assert r2.change_type == "ALTER TABLE"
    assert any("No schema changes" in m for m in r2.message_list)
    assert not r2.has_error


def test_illegal_promotion_rejected(spark, catalog, tmp_path):
    import json  # noqa: PLC0415

    v1 = json.loads((ASSETS / "orders_v1.json").read_text())
    process_event(spark, catalog, str(ASSETS / "orders_v1.json"))
    # try to narrow price float -> int (illegal)
    bad = json.loads(json.dumps(v1))
    items = next(c for c in bad["columns"] if c["column_name"] == "order_items")
    price = next(
        c for c in items["array_def"]["struct_def"] if c["column_name"] == "price"
    )
    price["data_type"] = "int"
    p = tmp_path / "bad.json"
    p.write_text(json.dumps(bad))
    r = process_event(spark, catalog, str(p))
    assert r.has_error
    assert any("not allowed" in m for m in r.message_list)
    # schema unchanged
    t = catalog.load_table("customer_order", "orders")
    elem = t.schema["order_items"].dataType.elementType
    assert elem["price"].dataType == T.FloatType()


def test_hidden_partition_pruning(spark, catalog):
    process_event(
        spark, catalog, str(ASSETS / "orders_v1.json"), generate_data_version="v1"
    )
    t = catalog.load_table("customer_order", "orders")
    pruned = t.to_df(spark, pruning=[("order_time", ">=", "2023-01-01")])
    full = t.to_df(spark)
    expected = full.filter("order_time >= '2023-01-01'").count()
    assert pruned.count() == expected
    # the pruning predicate must skip the files of earlier year
    # partitions (manifest partition-tuple pruning)
    assert sorted(pruned.inputFiles()) == sorted(
        f
        for f in full.inputFiles()
        if f.split("_p_order_time_year=")[1][:4] >= "2023"
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
