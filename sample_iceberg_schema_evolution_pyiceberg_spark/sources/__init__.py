"""Source readers (SURVEY B1-B5): parquet testdata tables, their
split cache and bucketed layouts, and the session confs they need."""

from __future__ import annotations

import os
import shutil
import tempfile
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sample_iceberg_schema_evolution_pyiceberg_spark.session import (
    declared_input_bytes,
    semantic_confs,
)

TESTDATA_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# ---------------------------------------------------------------------------
# Split cache: scan-parallelism ingest step
#
# The testdata parquet ships as ONE row group per table. Parquet scans can
# only split at row-group boundaries, so Spark reads the whole table in a
# single task no matter how many cores it has (the other splits come back
# empty) — a storage-layout problem, not a plan problem. A real lake solves
# this at ingest/compaction time (Iceberg rewrite_data_files targets
# balanced file sizes for exactly this reason); we mirror that: first read
# of a table rewrites it once, row-preserving, into N parquet files under a
# local cache dir, and every scan after that parallelizes across all cores.
# Disable with SPARK_GRAFT_SPLIT_CACHE=0.
# ---------------------------------------------------------------------------

_SPLIT_CACHE_DIR = os.environ.get(
    "SPARK_GRAFT_SPLIT_CACHE_DIR", "/tmp/spark_graft_split_cache"
)
_SPLIT_FILES = 32  # target files per table (matches local core count)
_MIN_SPLIT_ROWS = 20_000  # below this a single task is already optimal


def _dir_tag(path: str) -> str:
    """``path`` as a table-name fragment: the bucketed-layout tables
    are named after their input dir this way."""
    return "".join(
        ch if ch.isalnum() else "_" for ch in os.path.abspath(path)
    ).strip("_").lower()


def _source_stamp(path: str) -> str:
    """Single definition of the source-file staleness fingerprint used
    by BOTH derived-layout caches (split cache + bucketed layout):
    byte size + nanosecond mtime, so a same-second same-size
    regeneration still changes the key."""
    st = os.stat(path)
    return f"{st.st_size}-{st.st_mtime_ns}"


def _split_cached_path(src: str) -> str:
    """Return a path to a multi-file copy of ``src``, building it on
    first use; falls back to ``src`` itself on any failure (the cache
    is an optimization, never a correctness dependency)."""
    if os.environ.get("SPARK_GRAFT_SPLIT_CACHE", "1") == "0":
        return src
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        # "t" prefix: Spark's file listing skips '_'-prefixed paths
        # (hidden-path convention), and src is absolute so replace()
        # would otherwise start the dir name with '_'
        key = f"t{src.replace('/', '_')}-{_source_stamp(src)}"
        dst = os.path.join(_SPLIT_CACHE_DIR, key)
        if os.path.isdir(dst):
            return dst
        f = pq.ParquetFile(src)
        n_rows = f.metadata.num_rows
        if n_rows < _MIN_SPLIT_ROWS or f.metadata.num_row_groups >= _SPLIT_FILES:
            return src
        table = f.read()
        if table.num_rows != n_rows:  # truncated read → no cache
            return src
        per_file = max(1, (n_rows + _SPLIT_FILES - 1) // _SPLIT_FILES)
        os.makedirs(_SPLIT_CACHE_DIR, exist_ok=True)
        tmp = tempfile.mkdtemp(dir=_SPLIT_CACHE_DIR)
        written = 0
        for i, lo in enumerate(range(0, n_rows, per_file)):
            piece = table.slice(lo, per_file)
            written += piece.num_rows
            pq.write_table(
                piece,
                os.path.join(tmp, f"part-{i:05d}.parquet"),
                compression="snappy",
            )
        if written != n_rows:  # row-preservation guard before publish
            shutil.rmtree(tmp, ignore_errors=True)
            return src
        try:
            os.rename(tmp, dst)  # atomic publish; loser of a race cleans up
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
        return dst if os.path.isdir(dst) else src
    except Exception:  # noqa: BLE001 — any failure means "no cache"
        return src


_CONF_SENTINEL = "spark.graft.confed"


def ensure_session_confs(spark: SparkSession) -> None:
    """The driver may hand us a session built without our factory
    (session.py); these confs are semantics-bearing (oracle parity),
    runtime-settable, and idempotent. The done-marker is a sentinel
    conf on the session itself — not a Python-side id(spark) set,
    which a recycled object id after session GC would falsely hit,
    silently skipping the UTC/nanosAsLong parity confs."""
    try:
        if spark.conf.get(_CONF_SENTINEL, None) == "true":
            return
    except Exception:  # noqa: BLE001
        pass
    for k, v in semantic_confs(
        declared_input_bytes(), spark.conf.get("spark.driver.memory", "8g")
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf is non-fatal
            pass
    try:
        spark.conf.set(_CONF_SENTINEL, "true")
    except Exception:  # noqa: BLE001
        pass


# keyed on the live session object (weakly): a dead session's entries
# vanish with it, and an id()-recycling allocator can never alias two
# sessions the way the old id(spark)-keyed dict could
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)


def normalize_events_ts(df: DataFrame, target: str = "timestamp_ntz") -> DataFrame:
    """Single point of truth for the events.ts encoding: the column
    arrives either as raw nanosecond longs (nanosAsLong conf) or as
    parquet timestamp[us]. Truncate ns->us and cast to ``target`` —
    ``timestamp_ntz`` for batch/oracle parity, ``timestamp`` for
    streaming (watermarks reject NTZ). Under the UTC session tz both
    targets carry the same wall-clock values."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        ts_type = "timestamp"
    if ts_type != target:
        df = df.withColumn("ts", F.col("ts").cast(target))
    return df


def topk_prune_threshold(
    sf_dir: str, name: str, column: str, k: int
) -> "float | None":
    """Zone-map top-k bound for ``ORDER BY column DESC LIMIT k``: the
    k-th largest parquet ROW-GROUP max of ``column`` across the
    table's files. Filtering ``column >= t`` provably retains every
    top-k row — each of the k row groups whose max >= t contains at
    least one row equal to its own max, so >= k rows pass the filter,
    hence the true k-th value is >= t and no top-k row is below it.
    (With the filter pushed to the parquet scan, row groups whose max
    falls under t are skipped wholesale — the ahead-of-time twin of
    the dynamic zone-map top-k pruning vectorized engines do, measured
    6x on the sf300 top-k: the engine gap SCALE.md's b21 entry
    records.)

    Pure footer metadata: O(#row-groups) stat reads on the driver, no
    data touched — at lake scale this is the manifest-stats pass, and
    the lake format's commit-time manifests could serve it without
    footer reads. Returns None (scan unpruned) when any row group
    lacks stats, the column is missing, or there are <= k row groups
    (nothing to prune)."""
    try:
        import pyarrow.parquet as pq  # noqa: PLC0415

        # the SAME files the scan reads (split-cache aware)
        path = _split_cached_path(f"{sf_dir}/{name}.parquet")
        if os.path.isdir(path):
            files = sorted(
                os.path.join(dp, f)
                for dp, _d, fs in os.walk(path)
                for f in fs
                if f.endswith(".parquet")
            )
        else:
            files = [path]
        maxes: list[float] = []
        for f in files:
            md = pq.read_metadata(f)
            try:
                ci = md.schema.names.index(column)
            except ValueError:
                return None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None  # an unaccounted group could hide top rows
                maxes.append(st.max)
        if len(maxes) <= k:
            return None
        maxes.sort(reverse=True)
        return maxes[k - 1]
    except Exception:  # noqa: BLE001 — pruning is an optimization only
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (B1 parquet scan). ``events`` carries a
    TIMESTAMP(NANOS) column Spark can't represent: read as long ns (see
    session.py nanosAsLong) and truncate to micros — identical to
    DuckDB's nanosecond-parquet read, keeping oracle parity.

    The analyzed DataFrame is memoized per (session, dir, table):
    testdata is immutable, and re-reading repeats file listing + footer
    reads + analysis on every query build (driver-side latency that
    would also hit a cluster's driver)."""
    per_session = _TABLE_CACHE.get(spark)
    if per_session is None:
        per_session = _TABLE_CACHE.setdefault(spark, {})
    cached = per_session.get((sf_dir, name))
    if cached is not None:
        return cached
    ensure_session_confs(spark)
    df = spark.read.parquet(_split_cached_path(f"{sf_dir}/{name}.parquet"))
    if name == "events":
        df = normalize_events_ts(df, target="timestamp_ntz")
    per_session[(sf_dir, name)] = df
    return df


# ---------------------------------------------------------------------------
# Bucketed (storage-partitioned) fact layout
#
# A fact-fact equi-join (lineitem ⋈ orders on orderkey) shuffles BOTH
# sides on every query unless the storage layout already co-locates the
# keys. At 100 TB the layout is the fix, not the plan: write each fact
# bucketed by its join key (Iceberg's bucket[N] partition transform /
# Spark bucketed tables, applied at ingest or compaction), and every
# downstream join on that key runs shuffle-free at any scale. We mirror
# that here: first use writes a bucketed catalog copy of the table
# (one-time, ingest-shaped cost, like the split cache above), and the
# returned catalog table carries the bucket spec Catalyst needs to
# eliminate the Exchange on both sides. Falls back to the plain scan on
# any failure.
# ---------------------------------------------------------------------------

_BUCKETS = 32  # parallelism cap; actual count sized by data below


def buckets_for(sf_dir: str) -> int:
    """Bucket count sized by the input, same rule as shuffle sizing
    (session.scaled_shuffle_partitions): a bucketed scan schedules one
    task per bucket and a bucketed join one join task per bucket, so
    an oversized count re-creates the tiny-task floor the layout
    exists to avoid. Both join sides read the same sf_dir, so the
    count always matches and the zero-exchange plan is preserved; the
    layout-cache name embeds the count, so a re-sized run lays out
    fresh instead of mixing bucket widths."""
    from ..session import _dir_input_bytes, scaled_shuffle_partitions

    nbytes = _dir_input_bytes(sf_dir)
    return (
        scaled_shuffle_partitions(nbytes, _BUCKETS) if nbytes else _BUCKETS
    )


def bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str,
    buckets: int | None = None,
) -> DataFrame:
    """Catalog-registered bucketed copy of a testdata table, keyed on
    (sf_dir, table, key). ``repartition(buckets, key)`` before the
    bucketed write aligns write tasks with bucket ids (same murmur3
    pmod), yielding one file per bucket so sort-merge join can also
    skip the per-partition sort (buckets are written sorted by key)."""
    if buckets is None:
        buckets = buckets_for(sf_dir)
    base = load_table(spark, sf_dir, name)
    # source fingerprint in the name (same _source_stamp the split
    # cache keys on): a regenerated source file gets a fresh layout
    # instead of silently serving the old rows through the _SUCCESS
    # adoption path below. Unfingerprintable source -> no layout cache
    # at all (never a degraded always-matching stamp).
    try:
        stamp = _source_stamp(f"{sf_dir}/{name}.parquet").replace("-", "_")
    except OSError:
        return base
    prefix = f"bkt_{_dir_tag(sf_dir)}_{name}_{key}_{buckets}_".lower()
    tbl = prefix + stamp
    try:
        if not spark.catalog.tableExists(tbl):
            # the in-memory catalog persists nothing across sessions,
            # but the warehouse files survive: a COMPLETE prior build
            # (_SUCCESS present) is adopted by re-declaring the same
            # bucket spec over its location — never rewritten, and
            # never deleted out from under a concurrent session using
            # it. Only an incomplete leftover is cleared and rebuilt.
            wh = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            path = os.path.join(wh, tbl)
            # reap orphaned older-stamp layouts of this same table: no
            # future session can reference them (the name embeds the
            # now-changed stat), and at fact-table sizes they add up.
            # Same-stamp dirs — the only ones a live concurrent session
            # on current data can be using — are never touched.
            import glob as _glob  # noqa: PLC0415

            for old in _glob.glob(os.path.join(wh, prefix + "*")):
                if os.path.basename(old) != tbl:
                    shutil.rmtree(old, ignore_errors=True)
            if os.path.exists(os.path.join(path, "_SUCCESS")):
                cols = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in base.schema.fields
                )
                spark.sql(
                    f"CREATE TABLE `{tbl}` ({cols}) USING parquet "
                    f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
                    f"INTO {buckets} BUCKETS LOCATION '{path}'"
                )
            else:
                if os.path.isdir(path):
                    shutil.rmtree(path, ignore_errors=True)
                (
                    base.repartition(buckets, F.col(key))
                    .write.format("parquet")
                    .bucketBy(buckets, key)
                    .sortBy(key)
                    .saveAsTable(tbl)
                )
        return spark.table(tbl)
    except Exception as e:  # noqa: BLE001 — layout is an optimization only
        import warnings  # noqa: PLC0415

        # LOUD fallback: the value path is identical, but the PLAN is
        # not — a silently degraded layout once benched a re-exchanging
        # join as if it were the bucketed one (disk-full during the
        # layout build, r9). Anyone measuring must see this.
        warnings.warn(
            f"bucketed layout unavailable for {name} ({e!r}); "
            "falling back to a plain scan — joins on this table will "
            "re-exchange",
            RuntimeWarning,
            stacklevel=2,
        )
        return base
