"""bench.py's import-time settings: a malformed environment value must
not crash the module, which perfbench imports for ``run_canary``."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]


@pytest.mark.parametrize(
    "raw, want",
    [(None, 3), ("5", 5), (" 2 ", 2), ("0", 1), ("-4", 1),
     ("three", 3), ("", 3), ("2.5", 3)],
)
def test_steal_retry_attempts_falls_back_on_malformed_values(raw, want):
    sys.path.insert(0, str(ROOT))
    try:
        import bench
    finally:
        sys.path.remove(str(ROOT))
    assert bench._steal_retry_attempts(raw) == want


def test_bench_imports_under_a_malformed_retry_env():
    env = dict(os.environ, SPARK_GRAFT_BENCH_STEAL_RETRIES="many")
    out = subprocess.run(
        [sys.executable, "-c",
         "import bench; print(bench.STEAL_RETRY_ATTEMPTS)"],
        cwd=ROOT, env=env, capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "3"


def test_plan_fingerprint_ignores_the_checkout_dir(monkeypatch):
    """Two checkouts differ only in where their split cache, warehouse
    and input dir live, and the cache entries are named after the input
    dir; the same plan must hash the same under both."""
    from types import SimpleNamespace as NS

    sys.path.insert(0, str(ROOT))
    try:
        import bench
    finally:
        sys.path.remove(str(ROOT))
    from sample_iceberg_schema_evolution_pyiceberg_spark import sources

    def fingerprint(checkout: str) -> str:
        cache = f"{checkout}/.work/cache"
        data = f"{checkout}/data/sf0.01"
        monkeypatch.setattr(sources, "_SPLIT_CACHE_DIR", f"{cache}/split")
        monkeypatch.setenv("SPARK_GRAFT_SF_DIR", data)
        bkt = f"bkt_{sources._dir_tag(data)}_orders_o_orderkey_4"
        split = "t" + f"{data}/lineitem.parquet".replace("/", "_")
        plan = (
            "SortMergeJoin [o_orderkey#1L], [l_orderkey#2L], Inner\n"
            f":- FileScan parquet spark_catalog.default.{bkt}[o_orderkey#1L]"
            " Location: InMemoryFileIndex(1 paths)"
            f"[file:{cache}/warehouse/{bkt}...\n"
            "+- FileScan parquet [l_orderkey#2L] Location: InMemoryFileIndex"
            f"(1 paths)[file:{cache}/split/{split[:12]}...]"
        )
        conf = {"spark.sql.warehouse.dir": f"file:{cache}/warehouse"}
        df = NS(
            _jdf=NS(queryExecution=lambda: NS(
                executedPlan=lambda: NS(toString=lambda: plan)
            )),
            sparkSession=NS(conf=NS(get=conf.get)),
        )
        return bench.plan_fingerprint(df)

    assert fingerprint("/srv/a/repo") == fingerprint("/srv/b/checkout")
