"""Physical-plan shape assertions: the 100 TB design gate (SURVEY §2
C6). Correctness says the answer is right; these tests say the plan
would still be the right plan at 1000 executors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.operators import QUERIES
from sample_iceberg_schema_evolution_pyiceberg_spark.plans import (
    codegen_stage_count,
    has_operator,
    has_pushed_filter,
    physical_plan,
    read_schema_columns,
)


def test_filters_push_to_parquet_scan(spark, sf_dir):
    df = QUERIES["b02_filter_predicates"](spark, sf_dir)
    # BETWEEN bounds and IN-set must reach the scan as PushedFilters
    assert has_pushed_filter(df, "GreaterThanOrEqual(p_size,10)")
    assert has_pushed_filter(df, "LessThanOrEqual(p_size,30)")


def test_projection_prunes_read_schema(spark, sf_dir):
    df = QUERIES["b01_scan_projection"](spark, sf_dir)
    cols = read_schema_columns(df)
    assert set(cols) == {"l_orderkey", "l_linenumber", "l_quantity"}, cols


def test_star_join_broadcasts_all_dims(spark, sf_dir):
    """The fact table must stream through broadcast joins — zero
    fact-table shuffles before the final 25-row aggregate exchange."""
    df = QUERIES["b03_join_inner_3way"](spark, sf_dir)
    df.collect()  # AQE finalizes the plan
    # AQE prints initial+final plans; the final plan is the first block
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_star_join_fact_scans_are_bucketed(spark, sf_dir):
    """b03's fact tables must come from the bucketed-by-orderkey
    layout: the scans carry the bucket spec, so at any scale where
    neither fact broadcasts, the orderkey join plans zero exchanges
    (test_bucketed_join_needs_no_shuffle proves the join shape; this
    proves b03 actually reads that layout)."""
    df = QUERIES["b03_join_inner_3way"](spark, sf_dir)
    # the prepared-plan memo (r16) may hand back the SAME DataFrame the
    # previous test executed — an AQE-final plan prints initial+final
    # trees, so count scans in the final block only (sibling test's
    # pattern)
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Bucketed: true") == 2, plan


def test_broadcast_hint_respected(spark, sf_dir):
    df = QUERIES["b10_join_broadcast_hint"](spark, sf_dir)
    df.collect()
    assert has_operator(df, "BroadcastHashJoin")


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    df = QUERIES["b21_topk"](spark, sf_dir)
    assert has_operator(df, "TakeOrderedAndProject")


def test_agg_is_partial_then_final(spark, sf_dir):
    """Map-side combine: two HashAggregates around one exchange that
    carries only |groups| rows."""
    df = QUERIES["b12_agg_pricing_summary"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan


def test_hot_path_is_whole_stage_codegen(spark, sf_dir):
    df = QUERIES["b12_agg_pricing_summary"](spark, sf_dir)
    df.collect()  # finalize the adaptive plan
    assert codegen_stage_count(df) >= 1


def test_range_join_broadcasts_tiny_side(spark, sf_dir):
    df = QUERIES["b11_join_range"](spark, sf_dir)
    df.collect()
    assert has_operator(df, "BroadcastNestedLoopJoin")


def test_no_driver_collect_in_operators():
    """Operators must be distributed plans: no .collect()/.toPandas()
    in the operator modules' hot paths (a03's bounded materialization
    of a tiny aggregate before its temp dir vanishes is the allowed
    exception, marked inline)."""
    import pathlib

    root = pathlib.Path(
        "sample_iceberg_schema_evolution_pyiceberg_spark/operators"
    )
    for mod in root.glob("*.py"):
        lines = mod.read_text().splitlines()
        for i, line in enumerate(lines):
            if ".collect()" in line or ".toPandas()" in line:
                window = "\n".join(lines[max(0, i - 2) : i + 2])
                # three allowed collect shapes, each marked at the
                # call site: a final tiny aggregate of a gate episode,
                # model-parameter materialization (k-row init / k x dim
                # centroid pulls in train_ivf_codebook), and bounded
                # episode metadata (a one-row DDL statement / 1-row
                # aggregate a gate episode inspects)
                assert (
                    "materialize before the temp dir" in window
                    or "model parameters" in window
                    or "bounded episode metadata" in window
                ), f"driver-side collect at {mod}:{i + 1}"


def test_bucketed_join_needs_no_shuffle(spark, tmp_path):
    """Bucketing co-locates join keys at write time: a join of two
    tables bucketed on the key must plan ZERO exchanges — at 100 TB
    this is the difference between a free join and reshuffling both
    sides every query."""
    # (warehouse dir is a static conf — use the session default with a
    # dedicated database, dropped in the finally)
    spark.sql("CREATE DATABASE IF NOT EXISTS bucketdb")
    try:
        a = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("va")
        )
        b = spark.range(0, 10_000).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
        )
        for name, df in (("ta", a), ("tb", b)):
            (
                df.write.bucketBy(8, "k").sortBy("k")
                .mode("overwrite")
                .saveAsTable(f"bucketdb.{name}")
            )
        # disable broadcast so the test exercises the bucketed path
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bucketdb.ta").join(
            spark.table("bucketdb.tb"), "k"
        )
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )
        spark.sql("DROP DATABASE IF EXISTS bucketdb CASCADE")


def test_lake_scan_prunes_partitions(spark, tmp_path):
    """Hidden-partitioning: a predicate on the source column must prune
    the scan to the files of the matching derived-column partitions
    (manifest partition-tuple pruning, before Spark plans the scan)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
        PartitionField,
        PartitionSpec,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    src = spark.range(0, 1000).select(
        F.col("id"),
        F.expr(
            "cast(timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,cast(id as int),0,0,0) as timestamp_ntz)"
        ).alias("ts"),
    )
    cat = LakeCatalog(tmp_path / "wh")
    table = cat.create_table(
        "t", "pp", src.schema,
        PartitionSpec((PartitionField("ts", "month", "ts_month", 1000),)),
    )
    table.append(src)
    pruned = table.to_df(spark, pruning=[("ts", ">=", "2024-03-01")])
    full = table.to_df(spark)
    assert sorted(pruned.inputFiles()) == sorted(
        f
        for f in full.inputFiles()
        if f.split("_p_ts_month=")[1][:7] >= "2024-03"
    )
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert pruned.count() == full.filter("ts >= '2024-03-01'").count()


def test_broadcast_threshold_scales_with_heap():
    """A flat raised autoBroadcastJoinThreshold is a cluster OOM
    hazard: the threshold compares Spark's pruned-compressed estimate,
    but the built hash relation runs ~10-25x that (measured at sf100 —
    a 39.8 MB-estimated customer built a ~1 GB relation that OOMed an
    8 GB heap). The engine sizes it min(64 MB, heap/256)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.session import (
        broadcast_threshold_bytes,
        parse_mem_bytes,
    )

    assert parse_mem_bytes("8g") == 8 * 1024**3
    assert parse_mem_bytes("512m") == 512 * 1024**2
    assert broadcast_threshold_bytes("8g") == 32 * 1024 * 1024
    assert broadcast_threshold_bytes("24g") == 64 * 1024 * 1024  # capped
    assert broadcast_threshold_bytes("2g") == 8 * 1024 * 1024
    with pytest.raises(ValueError):
        parse_mem_bytes("lots")


# ---------------------------------------------------------------------------
# Prepared-plan memo purity lint (r17, VERDICT r16 item 7): a
# memo_plan=True constructor must be PURE plan-building — constructing
# twice yields the same analyzed plan and touches no catalog state —
# otherwise the memo silently skips real per-invocation work. The lint
# runs against every registered memoized query AND is proven red on a
# deliberately impure fixture.
# ---------------------------------------------------------------------------


def _normalized_analyzed_plan(df) -> str:
    import re

    s = df._jdf.queryExecution().analyzed().toString()
    s = re.sub(r"#\d+L?", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    return s


def _memo_purity_violations(spark, sf_dir, fn) -> list[str]:
    """Impurity evidence for a (spark, sf_dir) -> DataFrame constructor:
    unequal analyzed plans across two constructions, or a catalog
    (temp-view) delta. Callers warm SESSION-level memos (the table
    memo registers bucketed-layout views on first touch — that is
    load_table's documented behavior, not query impurity) before
    invoking this."""
    views_before = {v.name for v in spark.catalog.listTables()}
    d1 = fn(spark, sf_dir)
    d2 = fn(spark, sf_dir)
    views_after = {v.name for v in spark.catalog.listTables()}
    out = []
    if _normalized_analyzed_plan(d1) != _normalized_analyzed_plan(d2):
        out.append("analyzed plans differ across constructions")
    if views_after != views_before:
        out.append(f"catalog changed: {sorted(views_after ^ views_before)}")
    return out


def test_plan_memo_constructors_are_pure(spark, sf_dir):
    """Every memo_plan=True site must pass the purity lint on its RAW
    (unmemoized) constructor — the memo itself would mask impurity by
    returning the cached frame."""
    memoized = {
        n: fn for n, fn in QUERIES.items() if hasattr(fn, "__wrapped__")
    }
    assert memoized, "expected memo_plan=True queries in the registry"
    failures = {}
    for name, fn in sorted(memoized.items()):
        raw = fn.__wrapped__
        raw(spark, sf_dir)  # warm session-level table/layout memos
        if v := _memo_purity_violations(spark, sf_dir, raw):
            failures[name] = v
    assert not failures, failures


def test_plan_memo_purity_lint_catches_impure(spark, sf_dir):
    """The lint must be RED on an impure constructor (else it proves
    nothing): one that registers temp views, and one whose plan is
    construction-dependent."""
    import itertools

    counter = itertools.count()

    def registers_views(s, _sf):
        df = s.range(3)
        df.createOrReplaceTempView(f"impure_probe_{next(counter)}")
        return df

    assert _memo_purity_violations(spark, sf_dir, registers_views)

    def unstable_plan(s, _sf):
        return s.range(3).selectExpr(f"id + {next(counter)} AS x")

    assert _memo_purity_violations(spark, sf_dir, unstable_plan)


def test_plan_memo_evicts_stopped_sessions(spark, sf_dir):
    """ADVICE r16: _PLAN_MEMO must not pin DataFrames of stopped
    sessions forever. Eviction is keyed on the stopped-session check;
    simulate one with a stub whose sparkContext._jsc is None."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
        registry,
    )

    class _StoppedCtx:
        _jsc = None

    class _StoppedSession:
        sparkContext = _StoppedCtx()

    stub = _StoppedSession()
    key = (id(stub), "/nowhere", "fake_query")
    registry._PLAN_MEMO[key] = (stub, None)

    # the prune runs on a memo MISS: guarantee one with a fresh wrapper
    @registry.plan_memo
    def _probe(s, _d):
        return s.range(1)

    _probe(spark, str(sf_dir))
    assert key not in registry._PLAN_MEMO
    # clean up the probe's own entry
    registry._PLAN_MEMO.pop((id(spark), str(sf_dir), "_probe"), None)
