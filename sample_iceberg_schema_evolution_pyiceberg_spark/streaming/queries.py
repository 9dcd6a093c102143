"""Streaming operators (B39-B43), each run with Trigger.AvailableNow
into an in-memory sink so the result is a finite, deterministic
DataFrame the gate can compare.

Design for real streams: the same pipelines run unchanged with a
kafka/file source and a real sink; availableNow is the batch-replay
mode Spark itself provides for backfill — watermarks, windows, and
state semantics are identical.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.registry import query, t


def _stream_events(spark: SparkSession, sf: str) -> DataFrame:
    """events as a file stream: explicit schema (streams can't infer),
    ts normalized by the shared batch/streaming helper — TIMESTAMP
    (not NTZ) because watermarks reject NTZ; session tz is UTC so
    window-start formatting matches the naive batch/oracle values."""
    from ..sources import ensure_session_confs, normalize_events_ts  # noqa: PLC0415

    # parity confs (UTC tz, nanosAsLong, NTZ inference) must be live
    # before the schema probe — a driver-built session may lack them
    ensure_session_confs(spark)
    batch = spark.read.parquet(f"{sf}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        # the sf dir holds all tables; glob-select only the events file
        .option("pathGlobFilter", "events.parquet")
        .parquet(f"{sf}")
    )
    return normalize_events_ts(stream, target="timestamp")


def _run_to_memory(out: DataFrame, mode: str = "complete") -> str:
    name = f"mem_{uuid.uuid4().hex[:10]}"
    # Stateful streaming parallelism = shuffle partitions AT QUERY START
    # (pinned in the checkpoint thereafter; AQE never applies to
    # streaming). 32 state stores — and for applyInPandasWithState /
    # stream-stream joins, 32 Python workers / 4x32 join state stores —
    # is pure fixed overhead at gate scale. Pin 8 for the gate run; a
    # production deployment sizes this to cluster cores before first
    # start, which is exactly how real Spark streaming jobs pick state
    # parallelism (it cannot be changed across restarts anyway).
    spark = out.sparkSession
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "8")
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    finally:
        spark.conf.set(key, old)
    return name


@query(
    "s01_stream_tumbling_window",
    oracle="""
    SELECT STRFTIME(DATE_TRUNC('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def s01_stream_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the event stream
    (B39+B40) — result equals the batch date_trunc grouping."""
    ev = _stream_events(spark, sf).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return spark.table(_run_to_memory(agg))


@query(
    "s02_stream_sliding_window",
    oracle="""
    WITH slides AS (
      SELECT TIMESTAMP '1970-01-01 00:00:00'
               + (CAST(FLOOR(EPOCH(ts) / 1800) AS BIGINT) * 1800 - s.k * 1800)
                 * INTERVAL 1 SECOND AS win_start
      FROM events e
      CROSS JOIN (VALUES (0), (1)) AS s(k)
    )
    SELECT STRFTIME(win_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n
    FROM slides GROUP BY 1
    """,
)
def s02_stream_sliding_window(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding window (1 h window, 30 min slide): every event lands in
    two windows; oracle enumerates the two slides per event."""
    ev = _stream_events(spark, sf).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
        )
    )
    return spark.table(_run_to_memory(agg))


@query(
    "s03_stream_dedup",
    oracle="""
    SELECT user_id, COUNT(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def s03_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful streaming dedup (B43): dropDuplicatesWithinWatermark on
    (user_id, event_type), then count per user — equals batch
    COUNT(DISTINCT). WithinWatermark (vs plain dropDuplicates without
    the event-time column) is the state-bounded form: keys older than
    the watermark are evicted instead of held forever, so state is
    O(keys per watermark window), not O(all keys ever seen)."""
    ev = _stream_events(spark, sf).withWatermark("ts", "2 hours")
    agg = (
        ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    return spark.table(_run_to_memory(agg))


@query(
    "s04_stream_session_window",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t,
             EPOCH_US(CAST(ts AS TIMESTAMP)) AS us
      FROM events
    ),
    m AS (
      SELECT user_id, t, us, event_id,
             CASE WHEN LAG(us) OVER w IS NULL
                    OR us - LAG(us) OVER w >= 300000000 THEN 1
                  ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    ),
    s AS (
      SELECT user_id, t,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m
    )
    SELECT STRFTIME(MIN(t), '%Y-%m-%d %H:%M:%S') AS session_start,
           user_id, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def s04_stream_session_window(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (B42): 5-minute-gap sessions per user —
    UPGRADED from rows-only to hash-gated: Spark's session_window
    half-open [start, last+gap) merge rule is exactly a
    gaps-and-islands split at inter-event gap >= 5 min, so the DuckDB
    oracle computes the same sessions relationally (the s04 twin of
    b54's 30-min batch sessionization; session_start = the session's
    first event timestamp on both sides)."""
    ev = _stream_events(spark, sf).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.session_window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "user_id",
            "n_events",
        )
    )
    return spark.table(_run_to_memory(agg))


@query("s06_stream_stateful_counter")  # custom state op: rows-only
def s06_stream_stateful_counter(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState (SURVEY
    B39-B43 surface): per-user running (event count, value total) kept
    in explicit GroupState — the escape hatch when built-in windows
    can't express the state machine. Update-mode emissions; the test
    asserts the final state per user equals the batch aggregate.

    Scale: state lives in the state store partitioned by user_id;
    per-group state is two scalars, so memory is O(distinct users per
    executor), independent of event volume."""
    import pandas as pd  # noqa: PLC0415

    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    ev = _stream_events(spark, sf).withWatermark("ts", "2 hours")

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    out = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return spark.table(_run_to_memory(out, mode="update"))


@query(
    "s07_stream_stream_join",
    oracle="""
    SELECT p.user_id AS p_user,
           p.event_id AS purchase_id,
           c.event_id AS click_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS pts
    FROM events p
    JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
)
def s07_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each purchase joins the same user's clicks in the preceding 30
    minutes. Both sides carry watermarks so Spark can bound the join
    state (clicks older than the watermark + interval are evicted) —
    the canonical funnel/attribution shape.

    Hash-gated (upgraded from rows-only in round 5): the replay is a
    single file -> one availableNow micro-batch, so no state eviction
    can drop a match and the INNER join's complete output equals the
    batch interval join the oracle runs (events carry no sub-microsecond
    precision, so the ns->us ts normalization can't shift a boundary)."""
    clicks = (
        _stream_events(spark, sf)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (
            F.col("click_ts")
            >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES")
        ),
    ).select(
        "p_user",
        "purchase_id",
        "click_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("pts"),
    )
    return spark.table(_run_to_memory(joined, mode="append"))


@query("s05_stream_late_data_drop")  # watermark behavior: rows-only
def s05_stream_late_data_drop(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark/late-data surface (B41): aggregation in append mode —
    only windows the watermark has closed are emitted. The behavioral
    test asserts late rows beyond the watermark are dropped."""
    ev = _stream_events(spark, sf).withWatermark("ts", "10 minutes")
    agg = (
        ev.groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "n",
        )
    )
    return spark.table(_run_to_memory(agg, mode="append"))


@query(
    "s08_stream_lake_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6)
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def s08_stream_lake_sink(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming -> lake integration (B39's sink half, hash-gated):
    every micro-batch lands in a lake table as one snapshot append via
    foreachBatch, then the aggregate runs over the LAKE table — the
    gate proves the streaming sink writes a lossless, queryable table.
    availableNow replays the file source deterministically; the same
    pipeline pointed at kafka is a production CDC landing zone."""
    import tempfile  # noqa: PLC0415

    from ..table_format import LakeCatalog  # noqa: PLC0415

    ev = _stream_events(spark, sf)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with tempfile.TemporaryDirectory(prefix="stream_lake_") as wh:
        table = LakeCatalog(wh).create_table("stream", "events_sink", ev.schema)
        spark.conf.set(key, "8")
        try:
            q = (
                ev.writeStream.foreachBatch(
                    lambda bdf, _bid: (table.append(bdf), None)[1]
                )
                .trigger(availableNow=True)
                .option(
                    "checkpointLocation", f"{wh}/_chk"
                )
                .start()
            )
            # awaitTermination(timeout) returns False on timeout — a
            # partial table would silently undercount, and the live
            # stream would keep writing into the vanishing tempdir
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("stream-to-lake sink timed out")
        finally:
            spark.conf.set(key, old)
        out = (
            table.to_df(spark)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double"),
                    6,
                ).alias("sum_value"),
            )
        )
        # materialize before the temp dir vanishes (bounded: grouped agg)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)


@query(
    "s09_stream_lake_source",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6)
             AS total
    FROM orders WHERE o_orderkey <= 3000
    GROUP BY o_orderstatus
    """,
)
def s09_stream_lake_source(spark: SparkSession, sf: str) -> DataFrame:
    """Lake -> stream (the source half of s08's sink, hash-gated):
    three snapshot appends land in a lake table, then
    LakeTable.stream_changes replays it through the LOG-DRIVEN
    streaming source (streaming/lake_source.py — offsets are snapshot
    sequence numbers, committed snapshots only; availableNow runs as
    one catch-up batch for Python sources) into an in-memory sink;
    the gate aggregates the streamed rows and must equal the
    relational aggregate over the source parquet — proving the
    streaming read is lossless and duplicate-free across snapshots."""
    import tempfile  # noqa: PLC0415

    from ..table_format import LakeCatalog  # noqa: PLC0415

    o = t(spark, sf, "orders").filter(F.col("o_orderkey") <= 3000)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with tempfile.TemporaryDirectory(prefix="stream_src_") as wh:
        table = LakeCatalog(wh).create_table("stream", "orders_src", o.schema)
        for lo, hi in ((0, 1000), (1001, 2000), (2001, 3000)):
            table.append(o.filter(F.col("o_orderkey").between(lo, hi)))
        name = f"s09_{uuid.uuid4().hex[:8]}"
        spark.conf.set(key, "8")
        try:
            q = (
                table.stream_changes(spark)
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{wh}/_chk")
                .start()
            )
            if not q.awaitTermination(300):
                q.stop()
                raise RuntimeError("lake streaming source timed out")
        finally:
            spark.conf.set(key, old)
        out = (
            spark.table(name)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                        "double"
                    ),
                    6,
                ).alias("total"),
            )
        )
        rows = out.collect()
        # materialize before the temp dir vanishes (bounded: grouped agg)
        return spark.createDataFrame(rows, out.schema)


@query(
    "s10_stream_lake_replication",
    oracle="""
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6)
             AS total
    FROM orders WHERE o_orderkey <= 3000
    GROUP BY o_orderstatus
    """,
)
def s10_stream_lake_replication(spark: SparkSession, sf: str) -> DataFrame:
    """Lake -> stream -> lake (s09's log-driven source composed with
    s08's snapshot sink — continuous replication with no message bus):
    three appends land in a source table, and a CAPPED one-shot drain
    (``drain_changes``, max 1 file per micro-batch) replicates them —
    each micro-batch a snapshot append via foreachBatch, CDC columns
    dropped. The gate aggregates the REPLICA against the relational
    oracle over the original parquet: the streamed copy must be
    lossless and duplicate-free across batch boundaries, under
    admission control. History: raw availableNow + cap truncated the
    run to one quantum (this gate caught 1000 of 3000 rows in r8 —
    the Python-source single-batch fallback); drain_changes is the
    r9 fix, multi-batch capped catch-up with complete drainage, and
    the multi-snapshot assert below would fail on any regression to
    one-gulp behavior. The same pipeline left running with a
    processing-time trigger is live table mirroring; the batch-side
    changelog/apply_changelog family covers rewrite commits the
    append-only stream refuses."""
    import tempfile  # noqa: PLC0415

    from ..table_format import LakeCatalog  # noqa: PLC0415

    o = t(spark, sf, "orders").filter(F.col("o_orderkey") <= 3000)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with tempfile.TemporaryDirectory(prefix="stream_rep_") as wh:
        cat = LakeCatalog(wh)
        src = cat.create_table("stream", "rep_src", o.schema)
        # split by residue, not by key range: every scale factor's
        # keys land in all three appends
        for i in range(3):
            src.append(
                o.filter(F.pmod("o_orderkey", F.lit(3)) == i).coalesce(1)
            )
        replica = cat.create_table("stream", "rep_dst", o.schema)
        spark.conf.set(key, "8")
        try:
            batches = src.drain_changes(
                spark,
                lambda s: s.writeStream.foreachBatch(
                    lambda bdf, _bid: (
                        replica.append(
                            bdf.drop("_snapshot_id", "_change_type")
                        ),
                        None,
                    )[1]
                ).option("checkpointLocation", f"{wh}/_chk"),
                max_files_per_trigger=1,
            )
        finally:
            spark.conf.set(key, old)
        # every batch committed as a snapshot append, nothing rewrote,
        # and the cap actually chunked the catch-up (3 source files ->
        # >= 3 non-empty batches — one gulp would be a regression)
        assert batches >= 3, batches
        assert len(replica.snapshots) >= 3, len(replica.snapshots)
        assert all(s.operation == "append" for s in replica.snapshots)
        out = (
            replica.to_df(spark)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                        "double"
                    ),
                    6,
                ).alias("total"),
            )
        )
        rows = out.collect()
        # materialize before the temp dir vanishes (bounded: grouped agg)
        return spark.createDataFrame(rows, out.schema)


_BACKFILL_ORACLE = """
    SELECT o_orderstatus AS status, COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 6)
             AS total,
           TRUE AS cap_honored, TRUE AS multi_batch, TRUE AS drained
    FROM orders WHERE o_orderkey <= 2400
    GROUP BY o_orderstatus
    """


def _backfill_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Shared body of s11/s12 — rate-limited streaming BACKFILL: a
    lake table with eight single-file appends is drained through
    ``drain_changes`` under a 2-files-per-micro-batch admission cap
    into a replica. The availableNow contract (start, drain
    EVERYTHING, stop) composes with the cap: >= 4 non-empty batches,
    no batch ever admits more than the cap (observed per batch inside
    foreachBatch via distinct source snapshots — each append is one
    file), and the replica hash-matches the relational oracle over the
    same parquet. The appends split the window by ``o_orderkey``
    residue mod 8, so every scale factor's keys fill all eight."""
    import tempfile  # noqa: PLC0415

    from ..table_format import LakeCatalog  # noqa: PLC0415

    o = t(spark, sf, "orders").filter(F.col("o_orderkey") <= 2400)
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    with tempfile.TemporaryDirectory(prefix="stream_backfill_") as wh:
        cat = LakeCatalog(wh)
        src = cat.create_table("stream", "bf_src", o.schema)
        for i in range(8):
            src.append(
                o.filter(F.pmod("o_orderkey", F.lit(8)) == i).coalesce(1)
            )
        replica = cat.create_table("stream", "bf_dst", o.schema)
        per_batch: list[int] = []

        def _sink(bdf, _bid):
            snaps = bdf.select("_snapshot_id").distinct().count()
            if snaps:
                per_batch.append(snaps)
                replica.append(bdf.drop("_snapshot_id", "_change_type"))

        spark.conf.set(key, "8")
        try:
            batches = src.drain_changes(
                spark,
                lambda s: s.writeStream.foreachBatch(_sink).option(
                    "checkpointLocation", f"{wh}/_chk"
                ),
                max_files_per_trigger=2,
            )
        finally:
            spark.conf.set(key, old)
        cap_honored = bool(per_batch) and all(c <= 2 for c in per_batch)
        multi_batch = batches >= 4 and len(per_batch) >= 4
        drained = sum(per_batch) == 8
        assert cap_honored and multi_batch and drained, (
            batches,
            per_batch,
        )
        out = (
            replica.to_df(spark)
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(
                    F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast(
                        "double"
                    ),
                    6,
                ).alias("total"),
            )
            .withColumn("cap_honored", F.lit(cap_honored))
            .withColumn("multi_batch", F.lit(multi_batch))
            .withColumn("drained", F.lit(drained))
        )
        rows = out.collect()
        # materialize before the temp dir vanishes (bounded: grouped agg)
        return spark.createDataFrame(rows, out.schema)


@query("s11_stream_backfill_capped", oracle=_BACKFILL_ORACLE)
def s11_stream_backfill_capped(spark: SparkSession, sf: str) -> DataFrame:
    """Rate-limited streaming backfill (VERDICT r9 item 7) on the one
    lake stream reader, ``LakeStreamReader``; see _backfill_capped."""
    return _backfill_capped(spark, sf)


@query("s12_stream_backfill_capped_distributed", oracle=_BACKFILL_ORACLE)
def s12_stream_backfill_capped_distributed(
    spark: SparkSession, sf: str
) -> DataFrame:
    """The capped backfill of s11 (VERDICT r10 item 7), kept as its own
    registry key: the same one reader, ``LakeStreamReader``, serves it
    with file reads as executor tasks; see _backfill_capped."""
    return _backfill_capped(spark, sf)
