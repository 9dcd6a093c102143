"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized through the noop sink (full distributed
execution, no driver collect) except LIMIT queries, which collect their
small result. DuckDB wall-clock for the same oracle SQL is measured
alongside (BASELINE.md gate: within 2x) and reported under
"duckdb_queries".
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))

HEADLINE = [
    "b03_join_inner_3way",
    "b12_agg_pricing_summary",
    "b13_agg_count_distinct",
    "b16_agg_having",
    "b18_window_ranking",
    "b20_window_running_frame",
    "b21_topk",
    "b36_dedup_keep_first",
    "b42_udtf_explode",
    "b54_sessionize_batch",
    "b62_asof_join",
    "c01_dedup_exact",
    "c02_dedup_minhash_lsh",
    "c04_dedup_ngram_jaccard",
    "c05_cosine_topk_brute",
    "c09_token_count",
    "c15_tfidf_top_terms",
]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def plan_fingerprint(df) -> str:
    """Stable hash of the physical plan shape: expression IDs, plan IDs
    and stats vary per session, so strip them before hashing. Lets a
    reader of BENCH_r{N}.json distinguish 'the plan changed' from 'the
    box was noisy' when a query's time moves between rounds."""
    from sample_iceberg_schema_evolution_pyiceberg_spark import sources

    s = df._jdf.queryExecution().executedPlan().toString()
    # the split cache, the warehouse and the input dir may all sit under
    # the checkout, and the cache entries are named after the input dir:
    # mask them so two checkouts of one commit fingerprint alike
    for root in (
        sources._SPLIT_CACHE_DIR,
        df.sparkSession.conf.get("spark.sql.warehouse.dir"),
    ):
        root = os.path.abspath(root.removeprefix("file:"))
        s = re.sub(re.escape(root) + r"/[^\s,)\]]*", "<scratch>", s)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if sf_dir:
        s = s.replace(f"bkt_{sources._dir_tag(sf_dir)}_", "bkt_")
    s = re.sub(r"#\d+L?", "#", s)
    # higher-order-function lambda variables (zip_with/aggregate/...)
    # mint fresh names per query construction: x_123 -> x_. Anchored to
    # the short lambda-arg names this codebase actually uses, so real
    # identifiers that merely end in digits (col_1 vs col_2) keep
    # distinct fingerprints.
    s = re.sub(r"\b(x|y|z|w|v|s|m|k|e|kv|tr|acc)_(\d+)\b", r"\1_", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"\[id=#?\d*\]", "", s)
    s = re.sub(r"/[^\s,)\]]*(?:testdata|benchdata)[^\s,)\]]*", "<path>", s)
    s = re.sub(r"/tmp/[^\s,)\]]*", "<tmp>", s)
    # bucketed-layout cache tables embed a size-mtime source stamp in
    # the name (sources._source_stamp); a container rebuild changes the
    # stamp with zero plan change — strip it so fingerprints compare
    # across rounds/boxes
    # the stamp is _{size_bytes}_{mtime_ns}: mtime is a ns-epoch (19
    # digits for any date after 2001), so anchor on that width — a
    # genuinely different bkt table whose name merely ends in short
    # numeric segments keeps its own fingerprint (ADVICE r9)
    s = re.sub(r"\b(bkt_[a-z0-9_]+?)_\d+_\d{16,19}\b", r"\1", s)
    s = re.sub(r"\s+", " ", s)
    return hashlib.sha256(s.encode()).hexdigest()[:12]


def read_cpu_steal() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — CPU time the
    hypervisor gave to OTHER guests. The 1-row canary catches
    scheduling congestion but not steal (it barely uses CPU), and
    r16's draws showed steal bursts inflating the compute-bound
    queries 2x under a 'quiet' canary. Label-only: timings unchanged."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError, IndexError):
        # label-only annotation: a malformed /proc/stat line must not
        # crash the bench (ADVICE r16)
        return (0, 0)


def run_canary(spark, runs: int = 5) -> dict[str, float]:
    """Fixed-cost canary: a constant 1-row query through the same noop
    sink as the measured queries. Its wall time is pure per-job fixed
    cost (driver scheduling + task launch + noop commit) with zero
    data dependence, so it moves ONLY with box state. Measured before
    and after the query loop; a drifting or inflated canary machine-
    flags a congested run (r9's 1.79x 'regression' was exactly this —
    a congested-box draw that cost a round of forensic attribution)."""
    df = spark.range(1).selectExpr("cast(1 as long) as one")
    materialize(df)  # one warm pass: JIT + codegen for the trivial plan
    s = []
    for _ in range(runs):
        t0 = time.time()
        materialize(df)
        s.append(time.time() - t0)
    return {
        "median": round(sorted(s)[len(s) // 2], 4),
        "min": round(min(s), 4),
        "max": round(max(s), 4),
    }


def _box_state(drift: float, floor: float, steal_pct: float) -> tuple[bool, bool, str]:
    """(congested, borderline, label) from the three box-weather
    signals. Thresholds calibrated r14 (drift/floor) and r16 (steal:
    >3% inflated compute-bound medians 1.5-2.4x; a healthy dedicated
    guest sees <0.1%)."""
    congested = bool(abs(drift) > 0.5 or floor > 0.15 or steal_pct > 3.0)
    borderline = bool(
        not congested
        and (abs(drift) >= 0.3 or floor > 0.10 or steal_pct > 0.75)
    )
    label = (
        "congested" if congested else "borderline" if borderline else "quiet"
    )
    return congested, borderline, label


# Bounded steal-gated retry of the measured sections (VERDICT r16 item
# 1): a congested attempt (CPU steal from host neighbors, detected
# AFTER the fact via /proc/stat deltas + the canary) is re-drawn up to
# this many total attempts; the LAST attempt is the one reported,
# labeled honestly either way, and every attempt's box state is kept
# in the record. Retrying a congested draw is a measurement-validity
# fix, not a cherry-pick: the attempt to keep is decided by box
# weather alone, never by the resulting numbers.
def _steal_retry_attempts(raw: str | None) -> int:
    """Attempt count from ``SPARK_GRAFT_BENCH_STEAL_RETRIES`` (at least
    1). A malformed value falls back to the default of 3 instead of
    crashing the import of this module and of everything importing it
    (perfbench reaches ``run_canary`` through here)."""
    try:
        return max(1, int(raw if raw is not None else "3"))
    except ValueError:
        return 3


STEAL_RETRY_ATTEMPTS = _steal_retry_attempts(
    os.environ.get("SPARK_GRAFT_BENCH_STEAL_RETRIES")
)


def _measure_spark(spark, sf_dir: str, runs: int):
    """One attempt of the Spark measured section: canary + steal
    bracketing around the consecutive per-query sampling loop."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
        QUERIES,
    )

    canary_pre = run_canary(spark)
    steal_pre = read_cpu_steal()
    samples: dict[str, list[float]] = {name: [] for name in HEADLINE}
    fingerprints: dict[str, str] = {}
    for name in HEADLINE:
        fn = QUERIES[name]
        fingerprints[name] = plan_fingerprint(fn(spark, sf_dir))
        for _ in range(runs):
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            samples[name].append(time.time() - t0)
    canary_post = run_canary(spark)
    steal_post = read_cpu_steal()
    d_total = max(steal_post[1] - steal_pre[1], 1)
    steal_pct = round(100.0 * (steal_post[0] - steal_pre[0]) / d_total, 3)
    base = max(canary_pre["median"], 1e-4)
    drift = round((canary_post["median"] - canary_pre["median"]) / base, 3)
    floor = max(canary_pre["median"], canary_post["median"])
    congested, borderline, label = _box_state(drift, floor, steal_pct)
    canary = {
        "pre": canary_pre,
        "post": canary_post,
        "drift": drift,
        "steal_pct": steal_pct,
        "congested": congested,
        "borderline": borderline,
        "box_state": label,
    }
    return samples, fingerprints, canary


# The sf0.1 headline ratio band across same-day QUIET-box draws
# (VERDICT r14 item 6: single draws are weather, the band is the
# climate — any ratio delta inside it is box noise, not a code
# signal). Updated each round from the double-draw records in
# bench_results/ + SCALE.md; the stable cross-round signal is the sf1
# point (~0.14x), where work dominates the per-job fixed cost.
SF01_QUIET_BAND = {
    "ratio_min": 1.35,
    "ratio_max": 1.85,
    "source": (
        "r16 OPTIMIZATION round re-baseline: persisted intermediates "
        "are now evicted per invocation (OPTIMIZATION_r16.md — the "
        "r12-r15 band [1.14, 1.59] was drawn with c02/c04 serving "
        "measured passes from caches built in the warmups; every "
        "pass now recomputes from parquet, which moves those two "
        "queries from ~0.45/0.52 s cached to honest ~0.7-1.2 s at "
        "parity with the DuckDB oracle's own per-pass recompute). "
        "Band from the r16 quiet double-draw records in "
        "bench_results/sf01_suite_r16opt_*.json"
    ),
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # publish the resolved dir so session sizing (input-scaled shuffle
    # partitions, session.scaled_shuffle_partitions) sees it even when
    # the driver relied on the default
    os.environ["SPARK_GRAFT_SF_DIR"] = sf_dir
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # optional subset (comma-separated) for large-sf runs where a
    # deliberately stress-shaped query would dominate the wall clock
    global HEADLINE  # noqa: PLW0603
    if sub := os.environ.get("SPARK_GRAFT_BENCH_QUERIES"):
        HEADLINE = [q for q in HEADLINE if q in set(sub.split(","))]

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
        ORACLES,
        QUERIES,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    # steady-state protocol (applied identically to both engines): two
    # untimed warm-up passes (JVM JIT + codegen caches + file listing —
    # first execution of a Spark plan pays one-time compilation that a
    # long-running cluster never re-pays), then median of five measured
    # passes per query (3 -> 5 in r8: box-state noise moved the
    # 17-query total by up to +-8% between same-day runs; the wider
    # median costs ~25 s of bench wall and tightens it)
    warmups, runs = 2, 5
    # (tables are memoized per session, so repeated query constructions
    # share one logical plan; r16: queries that persist intermediates
    # EVICT the previous invocation's entries at entry, so warmups and
    # measured passes each recompute from parquet — no pass is served
    # from a cache an earlier pass built)
    for _ in range(warmups):
        for name in HEADLINE:
            materialize(QUERIES[name](spark, sf_dir))

    # consecutive per-query sampling (JMH-style steady state): the 5
    # measured passes of a query run back-to-back, not interleaved with
    # 16 other queries — measured on this box, interleaving inflates
    # per-query medians ~40% (cache/JIT/cleaner cross-talk between
    # plans; see tools/aqe_experiment.py, which first quantified it).
    # Steal-gated bounded retry (VERDICT r16 item 1): a congested
    # attempt re-draws, keeping the LAST attempt and every attempt's
    # box state. drift/floor/steal thresholds documented at _box_state;
    # box_state is the one-word summary (quiet|borderline|congested).
    spark_attempts: list[dict] = []
    for _ in range(STEAL_RETRY_ATTEMPTS):
        samples, fingerprints, canary = _measure_spark(spark, sf_dir, runs)
        spark_attempts.append(
            {
                "box_state": canary["box_state"],
                "steal_pct": canary["steal_pct"],
                "drift": canary["drift"],
            }
        )
        if not canary["congested"]:
            break
    times = {n: round(sorted(s)[len(s) // 2], 3) for n, s in samples.items()}
    spread = {
        n: {"min": round(min(s), 3), "max": round(max(s), 3)}
        for n, s in samples.items()
    }

    duck_times: dict[str, float] = {}
    duck_attempts: list[float] = []
    try:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count()}")
        for tb in TABLES:
            con.execute(
                f"CREATE VIEW {tb} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{tb}.parquet')"
            )
        oracle_names = [n for n in HEADLINE if n in ORACLES]
        for _ in range(warmups):
            for name in oracle_names:
                con.execute(ORACLES[name]).fetchall()
        # consecutive per-query, same as the Spark side (r8: the
        # measured passes were interleaved here while Spark's were
        # consecutive — asymmetric, and interleaving inflates medians).
        # Same steal-gated bounded retry as the Spark half (symmetry:
        # a steal burst on either engine's turn skews the ratio, in
        # either direction).
        for _ in range(STEAL_RETRY_ATTEMPTS):
            d_steal_pre = read_cpu_steal()
            d_samples: dict[str, list[float]] = {n: [] for n in oracle_names}
            for name in oracle_names:
                for _ in range(runs):
                    t0 = time.time()
                    con.execute(ORACLES[name]).fetchall()
                    d_samples[name].append(time.time() - t0)
            d_steal_post = read_cpu_steal()
            duck_steal_pct = round(
                100.0
                * (d_steal_post[0] - d_steal_pre[0])
                / max(d_steal_post[1] - d_steal_pre[1], 1),
                3,
            )
            duck_attempts.append(duck_steal_pct)
            if duck_steal_pct <= 3.0:
                break
        duck_times = {
            n: round(sorted(s)[len(s) // 2], 3) for n, s in d_samples.items()
        }
        duck_spread = {
            n: {"min": round(min(s), 3), "max": round(max(s), 3)}
            for n, s in d_samples.items()
        }
    except Exception:  # noqa: BLE001 — bench must still emit its line
        duck_spread = {}

    total = round(sum(times.values()), 3)
    duck_total = round(sum(duck_times.values()), 3)
    ratio = round(total / duck_total, 3) if duck_total else None
    band = dict(SF01_QUIET_BAND) if float(sf) == 0.1 else None
    # full record first (humans + bench_results archives) ...
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "ratio_vs_duckdb": ratio,
                "quiet_band": band,
                "query_spread": spread,
                "plan_fingerprints": fingerprints,
                "duckdb_queries": duck_times,
                "duckdb_total": duck_total,
                "duckdb_spread": duck_spread,
                "canary": canary,
                "spark_attempts": spark_attempts,
                "duckdb_attempt_steal_pcts": duck_attempts,
            }
        )
    )
    # ... then a COMPACT machine line LAST: the driver archives only a
    # bounded tail of stdout, and the full record overflows it
    # (BENCH_r04/r05 recorded "parsed": null) — query->median plus
    # per-query [min, max] spread for BOTH engines (VERDICT r7 item 2:
    # the r7 record carried DuckDB spread but the Spark side survived
    # only as a single number, so the b03 +47% move could not be
    # adjudicated), small enough to survive the capture window
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "duckdb_total": duck_total,
                "ratio": ratio,
                "band": [band["ratio_min"], band["ratio_max"]] if band else None,
                "spread": {
                    n: [s["min"], s["max"]] for n, s in spread.items()
                },
                "duckdb_spread_c": {
                    n: [s["min"], s["max"]] for n, s in duck_spread.items()
                },
                "canary": [
                    canary["pre"]["median"],
                    canary["post"]["median"],
                    int(canary["congested"]),
                ],
                "canary_drift": canary["drift"],
                "steal_pct": canary["steal_pct"],
                "box_state": canary["box_state"],
                "n_attempts": [len(spark_attempts), len(duck_attempts)],
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
