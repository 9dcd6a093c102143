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
