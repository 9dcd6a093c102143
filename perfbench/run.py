"""Benchmark for the engine: three workloads, each with one closed-loop
client in one process on ``local[<cores>]``.

    python3 perfbench/run.py                      # all three workloads
    python3 perfbench/run.py --workload headline|lake_dml|schema_events \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. Without ``--workload`` the command runs
every workload in turn, each in its own process, and ends with one
verdict. A single-workload run

1. pins every ``SPARK_GRAFT_*`` variable the package reads and points
   every scratch directory (Spark local dirs, warehouse, split cache,
   ``TMPDIR``) into ``.perfbench_work/`` in the checkout;
2. reads its tables from ``perfbench/testdata/sf0.01``: fixed TPC-H-shaped
   parquet files (15k orders, 60k lineitems; see ``DATA_DIR``).
   ``headline`` runs on this fixed data; ``--seed`` picks the mutations of
   ``lake_dml`` and the event sequence of ``schema_events``;
3. sets up once -- JVM start, a SparkSession from ``get_spark``, the
   workload's input preparation and its warm-up -- and reports the
   time from process start to the first timed operation as ``setup_s``;
4. runs passes back to back for ``--seconds`` seconds and reports the
   median pass, with box-weather labels (CPU steal and ``bench.py``'s
   canary) taken around the timed window; no run is retried or dropped;
5. checks the results, untimed, once (``workloads.*.check``).

With ``--trace 1`` the timed passes alternate untraced and traced. The
traced passes record a span around every call into a package module
(see ``_wrap_layers``) plus Spark's job/stage/task counters from the
status store; the per-layer numbers come from those passes and the
tracing overhead from comparing the two kinds. Spans are written to
``.perfbench_work/traces/`` when the run ends.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``). The lines before it are the full report: every metric
with unit and sample count, the labels, and the correctness verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "sample_iceberg_schema_evolution_pyiceberg_spark"
WORKLOAD_NAMES = ("headline", "lake_dml", "schema_events")
# The input tables. At sf0.1 a headline run takes about 75 s and a
# lake_dml run about 55 s on 4 cores, most of it JVM start and JIT
# warm-up; sf0.01 keeps the 22 runs per workload that a comparison of two
# commits needs within an hour.
DATA_DIR = HERE / "testdata" / "sf0.01"

# Variables the package reads that the benchmark fixes. Unset means the
# package's own default.
_PINNED_UNSET = [
    "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_AQE",
    "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_BENCH_QUERIES", "SPARK_GRAFT_BENCH_STEAL_RETRIES",
    "SPARK_GRAFT_BUCKETED", "SPARK_GRAFT_BUCKETS", "SPARK_GRAFT_SPLIT_CACHE",
]


def _process_start() -> float:
    """This process's start, on the ``time.time`` clock."""
    try:
        with open("/proc/self/stat") as f:
            ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return time.time()


T_START = _process_start()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quantile(xs: list[float], q: float) -> float:
    """The q-quantile by the nearest-rank rule."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _pin_env(work: Path, cache: Path, data_dir: Path) -> dict[str, str]:
    cpus = len(os.sched_getaffinity(0))
    for v in _PINNED_UNSET:
        os.environ.pop(v, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SF_DIR"] = str(data_dir)
    os.environ["SPARK_GRAFT_SPLIT_CACHE_DIR"] = str(cache / "split")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    for d in (cache / "split", work / "tmp", work / "spark-local"):
        d.mkdir(parents=True, exist_ok=True)
    # paths relative to the checkout, so labels compare across checkouts
    return {
        k: v.replace(f"{ROOT}/", "") for k, v in sorted(os.environ.items())
        if k.startswith("SPARK_GRAFT_")
    }


class _Pkg:
    """The package entry points the workloads call, imported once."""

    def __init__(self):
        import bench
        import check_correctness

        from sample_iceberg_schema_evolution_pyiceberg_spark import (
            handler, schema_diff,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.datagen import insert_orders
        from sample_iceberg_schema_evolution_pyiceberg_spark.ddl import DdlFrontend
        from sample_iceberg_schema_evolution_pyiceberg_spark.iceberg_export import (
            export_to_iceberg, read_iceberg_table,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.operators import (
            ORACLES, QUERIES,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.partitioning import (
            compile_partition_spec, specs_equal,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.schema_compiler import (
            compile_schema,
        )
        from sample_iceberg_schema_evolution_pyiceberg_spark.session import get_spark
        from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
            LakeCatalog,
        )

        self.bench, self.check_correctness = bench, check_correctness
        self.TABLES = check_correctness.TABLES
        self.handler, self.schema_diff = handler, schema_diff
        self.process_event = handler.process_event
        self.insert_orders, self.DdlFrontend = insert_orders, DdlFrontend
        self.export_to_iceberg, self.read_iceberg_table = export_to_iceberg, read_iceberg_table
        self.QUERIES, self.ORACLES = QUERIES, ORACLES
        self.compile_partition_spec, self.specs_equal = compile_partition_spec, specs_equal
        self.compile_schema, self.get_spark, self.LakeCatalog = compile_schema, get_spark, LakeCatalog


def _wrap_layers(tr) -> None:
    """Span every call into the modules below for the traced passes
    (restored by ``tr.restore()``). Functions a module imported by name
    are wrapped where the caller looks them up."""
    from sample_iceberg_schema_evolution_pyiceberg_spark import (
        evolution, fileio, handler, iceberg_export, table_format,
    )

    LT = table_format.LakeTable
    tr.wrap(handler, "load_table_def", "config.load")
    tr.wrap(handler, "compile_schema", "schema_compiler.compile")
    tr.wrap(handler, "compile_partition_spec", "partitioning.compile_spec")
    tr.wrap(handler, "evolve_table", "evolution.evolve")
    tr.wrap(evolution, "diff_schemas", "schema_diff.diff")
    tr.wrap(LT, "_commit", "table_format.commit")
    tr.wrap(LT, "load", "table_format.load", static=True)
    tr.wrap(fileio.LocalFileIO, "write_text", "fileio.write")
    tr.wrap(fileio.LocalFileIO, "write_bytes", "fileio.write")
    tr.wrap(iceberg_export, "write_ocf", "avro_ocf.write")


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _new_session(pkg, work: Path, cache: Path):
    spark = pkg.get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(cache / "warehouse"),
            "spark.local.dir": str(work / "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            # the status store keeps every job and stage of a run, so the
            # traced run's counters never miss an evicted one
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_jvm(spark) -> None:
    """Stop the session, close the py4j gateway and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=30)


def _setup(pkg, wl_cls, args, data_dir: Path, run_dir: Path, cache: Path, tr):
    """Session, input preparation and the workload's warm-up, timed
    from process start. Returns the session, the workload and the phase
    times."""
    t_a = time.time()
    spark = _new_session(pkg, run_dir, cache)
    t_b = time.time()
    wl = wl_cls(pkg, data_dir, args.seed, run_dir / "work", cache)
    wl.work.mkdir(parents=True, exist_ok=True)
    wl.prepare(spark, tr)
    t_c = time.time()
    wl.warmup(spark, tr)
    t_d = time.time()
    return spark, wl, {
        "setup_s": t_d - T_START, "start_s": t_a - T_START, "get_spark_s": t_b - t_a,
        "prepare_s": t_c - t_b, "warmup_s": t_d - t_c,
    }


def _measure(wl, spark, seconds: float, tr, traced: bool):
    """Passes back to back for ``seconds``. Traced runs alternate
    untraced and traced passes, starting untraced, with at least one
    traced pass and one warm untraced pass: a workload whose first pass
    is cold needs three."""
    from tracing import SparkCounters

    passes: list[dict] = []
    if traced:
        tr.counters = SparkCounters(spark)
    t_end = time.perf_counter() + seconds
    min_passes = 3 if wl.cold_first_pass else 2
    while True:
        trace_this = traced and len(passes) % 2 == 1
        if trace_this:
            tr.enabled = True
            _wrap_layers(tr)
            first_span = len(tr.spans)
            c0 = tr.counters.snapshot()
        t0 = time.perf_counter()
        ops = wl.run_pass(spark, tr)
        t1 = time.perf_counter()
        rec = {
            "traced": trace_this, "wall_s": t1 - t0, "ops": ops, "stats": dict(wl.stats()),
            "cold": wl.cold_first_pass and not passes,
        }
        if trace_this:
            tr.restore()
            tr.enabled = False
            rec["spark"] = tr.counters.delta(c0)
            rec["spans"] = (first_span, len(tr.spans))
        passes.append(rec)
        if time.perf_counter() >= t_end and (not traced or len(passes) >= min_passes):
            return passes


def _layer_metrics(tr, traced_passes: list[dict]) -> dict[str, list[float]]:
    """Per traced pass: self time of every layer span (the operation's
    root span is not a layer), the time no layer span covers, counts of
    commits and file writes, and Spark's counters."""
    out: dict[str, list[float]] = {}

    def add(k, v):
        out.setdefault(k, []).append(float(v))

    for p in traced_passes:
        lo, hi = p["spans"]
        layers = [s for s in tr.spans[lo:hi] if s.parent is not None]
        self_times = tr.self_times(layers)
        for name, s in self_times.items():
            add(f"{name}_s", s)
        add("trace.unattributed_s", p["wall_s"] - sum(self_times.values()))
        add("table_format.commits", sum(s.name == "table_format.commit" for s in layers))
        add("fileio.files_written", sum(s.name == "fileio.write" for s in layers))
        for k, v in p["spark"].items():
            add(k, v)
    return out


def _run_all(args) -> int:
    """Every workload in turn, each in its own process; one verdict."""
    results = {}
    for name in WORKLOAD_NAMES:
        cmd = [
            sys.executable, str(Path(__file__).resolve()), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        try:
            results[name] = json.loads(lines[-1]) if proc.returncode == 0 else None
        except (IndexError, json.JSONDecodeError):
            results[name] = None
    ran = [r for r in results.values() if r]
    correct = len(ran) == len(WORKLOAD_NAMES) and all(r["correct"] for r in ran)
    failed = sum(r["failed"] for r in ran)
    attempted = sum(r["attempted"] for r in ran)
    print(f"# verdict {'correct' if correct else 'INCORRECT'}: {failed} of {attempted} "
          f"operations failed; workloads that did not finish: "
          f"{[n for n, r in results.items() if not r] or 'none'}")
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: r["metrics"] if r else None for n, r in results.items()},
    }))
    return 0 if len(ran) == len(WORKLOAD_NAMES) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES,
                    help="one workload; all three in turn when left out")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured seconds (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG).is_dir() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: package {PKG} or bench.py not found under {ROOT}", file=sys.stderr)
        return 2
    if args.seconds is None:
        args.seconds = float(_spec()["run_seconds"])
    if args.workload is None:
        return _run_all(args)

    sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "tools")]
    from tracing import Tracer
    from workloads import WORKLOADS

    base = ROOT / ".perfbench_work"
    run_dir = base / f"run-{os.getpid()}-{time.time_ns()}"
    cache = base / "cache"
    env = _pin_env(run_dir, cache, DATA_DIR)

    pkg = _Pkg()
    tr = Tracer(False)
    spark = None
    try:
        spark, wl, setup = _setup(pkg, WORKLOADS[args.workload], args, DATA_DIR, run_dir,
                                  cache, tr)
        canary_pre = pkg.bench.run_canary(spark)
        steal_pre = pkg.bench.read_cpu_steal()
        passes = _measure(wl, spark, args.seconds, tr, bool(args.trace))
        steal_post = pkg.bench.read_cpu_steal()
        canary_post = pkg.bench.run_canary(spark)
        failures, check_info = wl.check(spark)
        rss = _jvm_peak_rss_mb(spark)
    finally:
        tr.restore()
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    report = _report(args, setup, passes, tr, failures, check_info, rss, env,
                     canary_pre, canary_post, steal_pre, steal_post)
    if args.trace:
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        (traces / f"{args.workload}-seed{args.seed}-{time.time_ns()}.json").write_text(
            json.dumps({"report": report, "spans": tr.to_json()})
        )
    _print(report, args)
    return 0


def _report(args, setup, passes, tr, failures, check_info, rss, env,
            canary_pre, canary_post, steal_pre, steal_post) -> dict:
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    all_ops = [o for p in passes for o in p["ops"]]
    failed_ops = [o for o in all_ops if not o.ok]
    lat = [o.seconds for p in untraced for o in p["ops"] if o.ok and o.latency]
    pass_s = _median([p["wall_s"] for p in untraced])
    n_fail = len(failed_ops) + len(failures)
    attempted = len(all_ops) + len(failures)

    m: dict[str, dict] = {}

    def put(name, values, unit):
        vals = values if isinstance(values, list) else [values]
        m[name] = {"value": _median(vals), "unit": unit, "n": len(vals)}

    put("setup_s", setup["setup_s"], "s")
    put("pass_s", [p["wall_s"] for p in untraced], "s")
    p90 = _quantile(lat, 0.9)
    m["event_p50_s"] = {"value": _median(lat), "unit": "s", "n": len(lat)}
    m["event_p90_s"] = {"value": p90, "unit": "s", "n": len(lat),
                        "beyond": sum(x > p90 for x in lat)}
    m["failed_frac"] = {"value": n_fail / max(1, attempted), "unit": "frac", "n": attempted}
    for k in ("start_s", "get_spark_s", "prepare_s", "warmup_s"):
        put(f"session.{k}", setup[k], "s")
    put("jvm.peak_rss_mb", rss, "MB")
    by_op: dict[str, list[float]] = {}
    for p in untraced:
        for o in p["ops"]:
            if o.ok and not (o.latency and o.name == "event"):
                by_op.setdefault(f"{o.name}_s", []).append(o.seconds)
    for name, xs in sorted(by_op.items()):
        put(name, xs, "s")
    stats = [p["stats"] for p in passes if p["stats"]]
    for k in stats[0] if stats else ():
        unit = "ratio" if k.endswith("ratio") else "bytes" if "bytes" in k else "count"
        put(k, [s[k] for s in stats], unit)
    if traced:
        for k, xs in _layer_metrics(tr, traced).items():
            unit = "s" if k.endswith("_s") else "bytes" if k.endswith("_bytes") else "count"
            put(k, xs, unit)
        t_pass = _median([p["wall_s"] for p in traced])
        u_pass = _median([p["wall_s"] for p in untraced if not p["cold"]])
        m["trace.pass_s"] = {"value": t_pass, "unit": "s", "n": len(traced)}
        m["trace.overhead_frac"] = {
            "value": t_pass / u_pass - 1.0, "unit": "frac", "n": len(traced) + len(untraced),
        }

    labels = {
        "cpus": int(env["SPARK_GRAFT_CPUS"]),
        "env": env,
        "steal_pct": round(
            100.0 * (steal_post[0] - steal_pre[0]) / max(steal_post[1] - steal_pre[1], 1), 3
        ),
        "canary_pre_s": canary_pre["median"],
        "canary_post_s": canary_post["median"],
        "passes": len(untraced),
        "traced_passes": len(traced),
    }
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "metrics": m, "labels": labels, "check": check_info,
        "correct": n_fail == 0,
        "failures": [f"{o.name}: {o.error}" for o in failed_ops] + failures,
        "attempted": attempted, "failed": n_fail,
    }


def _print(report: dict, args) -> None:
    m = report["metrics"]
    print(f"# perfbench {report['workload']} seed={report['seed']} "
          f"seconds={report['seconds']} trace={report['trace']}")
    for name, v in m.items():
        extra = f" beyond={v['beyond']}" if "beyond" in v else ""
        print(f"{name:48s} {v['value']:.6g} {v['unit']} n={v['n']}{extra}")
    print("labels " + json.dumps(report["labels"], sort_keys=True))
    print("check " + json.dumps(report["check"], sort_keys=True, default=str))
    verdict = "correct" if report["correct"] else "INCORRECT"
    print(f"verdict {verdict}: {report['failed']} of {report['attempted']} operations failed")
    for f in report["failures"]:
        print(f"  failed: {f}")
    # metrics this workload has no use for (a table-format counter on
    # headline, say) read 0 in the result line
    spec = _spec()["per_layer" if args.trace else "end_to_end"]
    print(json.dumps({
        "correct": report["correct"],
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": {
            x["name"]: {"value": m[x["name"]]["value"] if x["name"] in m else 0.0,
                        "unit": x["unit"]}
            for x in spec
        },
    }))


if __name__ == "__main__":
    sys.exit(main())
