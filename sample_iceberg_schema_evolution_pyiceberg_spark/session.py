"""SparkSession factory tuned for the engine.

Defaults mirror a 100 TB-scale posture scaled down to local mode: AQE on
(runtime re-planning, skew-join handling, partition coalescing),
broadcast threshold left at Spark's default so small dims broadcast,
Arrow enabled for the Pandas-UDF paths, and NTZ timestamp inference so
parquet naive timestamps round-trip unchanged (DuckDB-oracle parity).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Input-scaled shuffle sizing: target >= this many bytes of input per
# shuffle partition before spending a partition on parallelism. The
# cluster principle applied at local scale: a 100 TB input wants
# bytes/target >> cores and clamps at the parallelism budget; a 20 MB
# gate-scale input wants a handful — scheduling 32 reducers for it
# makes every map task write 32 shuffle buckets (map x reduce block
# overhead measured 2.4x on a 150k-row groupBy: 0.385 s at 32x32 vs
# 0.163 s at 32x4, tools/floor_profile.py r8, retired at 87d85a9). AQE
# can only MERGE partitions (the blocks are already written map-side),
# so the initial number is the lever; AQE skew-join still SPLITS
# oversized partitions, so a low initial count cannot wedge a skewed
# join. The 2 MB constant
# is the measured optimum on this box (headline subset at sf0.1:
# 32 partitions 3.44 s, 4 -> 2.68 s, 8 -> 2.39 s, 12 -> 2.60 s; 18 MB
# input / 8 ~= 2 MB per partition); a cluster deployment overrides via
# SPARK_GRAFT_SHUFFLE_PARTITIONS with its own per-partition target.
_SHUFFLE_TARGET_BYTES = 2 * 1024 * 1024
_MIN_SHUFFLE_PARTITIONS = 4


def scaled_shuffle_partitions(input_bytes: int, cpus: int) -> int:
    """clamp(input_bytes / 2MB, 4, cpus) — the documented sizing rule
    (VERDICT r7 item 1: 'scale shuffle/task counts to input size the
    way a cluster would')."""
    return max(
        _MIN_SHUFFLE_PARTITIONS,
        min(int(cpus), input_bytes // _SHUFFLE_TARGET_BYTES),
    )


def _dir_input_bytes(sf_dir: str) -> int:
    """Total bytes of the declared input dir. Tables may be single
    files (table.parquet), chunked directories (table.parquet/
    part-*.parquet — the large derived decades), or hive-partitioned
    trees (arbitrary depth); os.walk counts them all, else a chunked
    39 GB lineitem would size the session as a 0-byte input. OSErrors
    are scoped per entry — one unreadable file skips that file, not
    the whole estimate (a zeroed estimate silently mis-sizes every
    shuffle in the session)."""
    total = 0
    for dirpath, _dirs, files in os.walk(sf_dir, onerror=lambda e: None):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                continue
    return total


# Below this much declared input, AQE is overhead with nothing to
# adapt: every exchange becomes its own job boundary (a query-shape
# stage materialization + re-plan round trip), measured +30% wall on
# the fixed-cost-dominated headline queries at sf0.1 (1.083 s AQE-on
# vs 0.753 s off over b16/b18/b42/c01/c05; tools/aqe_experiment.py,
# r10). Partitions are already input-sized (scaled_shuffle_partitions:
# a 17 MB input runs 8 x 2 MB partitions), so coalescing has nothing
# to merge and a skewed key cannot materialize. Any real input — a
# cluster decade, 100 TB — keeps AQE on: skew-join splitting and
# runtime coalescing are strictly worth it there.
_AQE_MIN_INPUT_BYTES = 64 * 1024 * 1024


def adaptive_enabled(input_bytes: int) -> bool:
    """Input-sized AQE gate: off below 64 MB declared input (see
    _AQE_MIN_INPUT_BYTES rationale), on for anything real."""
    return input_bytes >= _AQE_MIN_INPUT_BYTES


def declared_input_bytes() -> int:
    """Bytes of the driver-declared input dir (SPARK_GRAFT_SF_DIR), or
    0 when none is declared — the shared basis for every input-scaled
    session decision (shuffle partition count, AQE gate)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    return _dir_input_bytes(sf_dir) if sf_dir else 0


def heavy_input(threshold: int = _AQE_MIN_INPUT_BYTES) -> bool:
    """True when the declared input is big enough that memory-for-
    recompute trades (persisting a mid-query intermediate) pay for
    themselves (r16: c02's candidate-gram-set cache wins 1.5x at sf1
    but costs more than the recompute at gate scale, where the
    persist/evict bookkeeping dominates). Same 64 MB basis as the AQE
    gate; no declared input -> True (the safe at-scale default)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        return True
    return _dir_input_bytes(sf_dir) >= threshold


def parse_mem_bytes(mem: str) -> int:
    """'8g' / '512m' / '24g' -> bytes (JVM -Xmx suffix grammar)."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", mem.strip().lower())
    if not m:
        raise ValueError(f"unparseable memory size {mem!r}")
    mult = {"": 1, "k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    return int(m.group(1)) * mult[m.group(2)]


def broadcast_threshold_bytes(heap: str) -> int:
    """autoBroadcastJoinThreshold sized to the executor heap:
    min(64 MB, heap/256). The threshold compares against Spark's
    PRUNED-COMPRESSED size estimate, but the built hash relation runs
    ~10-25x that (measured at sf100: the 15 M-row customer estimated
    39.8 MB — 135 MB parquet x a 2-of-7 column ratio — and built a
    ~1 GB relation that OOMed an 8 GB heap). A flat raised threshold
    is therefore a cluster OOM hazard; heap/256 keeps the worst-case
    relation (~25x blowup) under ~10% of the heap: 8 GB -> 32 MB
    (the sf100 customer correctly falls back to a sort-merge join and
    the query COMPLETES), 24 GB -> 64 MB cap (the broadcast plan,
    measured faster, stays). Dims that matter at every scale (nation,
    region, sf<=10 customer) sit far under either value."""
    return min(64 * 1024 * 1024, parse_mem_bytes(heap) // 256)


def semantic_confs(input_bytes: int, heap: str) -> list[tuple[str, str]]:
    """The semantics-bearing confs (oracle parity, input-sized plans)
    every engine session carries: ``get_spark`` builds them in, and
    ``sources.ensure_session_confs`` sets them on a session the driver
    built without this factory. ``input_bytes`` is the declared input
    (0: none declared), ``heap`` the driver memory."""
    return [
        # testdata events.parquet carries TIMESTAMP(NANOS); Spark has no
        # nanos timestamp — read as long, converted in sources.load_table
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.parquet.inferTimestampNTZ.enabled", "true"),
        ("spark.sql.session.timeZone", "UTC"),
        # AQE is input-sized: on for any real input (100 TB posture —
        # skew-join splits, runtime coalescing), off below 64 MB where
        # its per-exchange re-plan round trip is pure fixed cost (see
        # adaptive_enabled). No declared input -> on (the safe default).
        (
            "spark.sql.adaptive.enabled",
            str(not input_bytes or adaptive_enabled(input_bytes)).lower(),
        ),
        # testdata ships one parquet file per table (split-cache files
        # are ~0.5 MB); split small files so scans parallelize (at
        # cluster scale inputs have thousands of splits and 128m is
        # right — these are local-bench values)
        ("spark.sql.files.maxPartitionBytes", "2m"),
        ("spark.sql.files.openCostInBytes", "512k"),
        # heap-scaled (see broadcast_threshold_bytes): kills the
        # orders-side shuffle in the star joins; 100 TB fact sides
        # never qualify
        (
            "spark.sql.autoBroadcastJoinThreshold",
            str(broadcast_threshold_bytes(heap)),
        ),
        # bucketed fact scans are written one sorted file per bucket;
        # expose that ordering so sort-merge joins on the bucket key
        # skip both the exchange AND the sort
        ("spark.sql.legacy.bucketedTableScan.outputOrdering", "true"),
        # 4x the default vectorized-reader batch: fewer per-batch
        # transitions in wide aggregates (measured ~5% on b12 at sf10;
        # neutral elsewhere — see SCALE.md b12 profile)
        ("spark.sql.parquet.columnarReaderBatchSize", "16384"),
    ]


def get_spark(
    app_name: str = "sample-iceberg-schema-evolution-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster the same conf applies unchanged; only ``master``
    differs. ``SPARK_GRAFT_CPUS`` controls local parallelism (driver
    contract, see ``bench.py``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", 0)
    )
    nbytes = declared_input_bytes()
    if not shuffle:
        # no explicit setting: size to the declared input when the
        # driver contract names one (bench/driver set
        # SPARK_GRAFT_SF_DIR), else the static default
        shuffle = (
            scaled_shuffle_partitions(nbytes, int(cpus))
            if nbytes
            else DEFAULT_SHUFFLE_PARTITIONS
        )
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Spark's own recommendation: respect the advisory target when
        # coalescing instead of maximizing parallelism — tiny reduce
        # stages merge down to the data's size (measured -0.5 s across
        # the sf0.1 headline; the advisory mirrors the 2 MB
        # per-partition target of scaled_shuffle_partitions, and a
        # cluster overrides it through extra_conf — a too-small
        # advisory only under-merges, never starves)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", mem)
        .config("spark.ui.enabled", "false")
        # factory-built sessions are fully configured: mark the
        # sentinel so sources.ensure_session_confs (the safety net for
        # DRIVER-handed sessions) never overrides an explicit setting
        # made here or via extra_conf
        .config("spark.graft.confed", "true")
    )
    for k, v in semantic_confs(nbytes, mem) + [*(extra_conf or {}).items()]:
        b = b.config(k, v)
    return b.getOrCreate()
