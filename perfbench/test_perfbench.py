"""The benchmark's own tests: a short smoke run of every workload, the
metric names of the result line against BENCHMARK.json, and the seeded
event walk of ``schema_events``. Each run starts a Spark JVM, so they
take a few minutes:

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
sys.path.insert(0, str(ROOT / "perfbench"))


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=900,
        check=False,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _report_value(lines: list[str], name: str) -> float:
    for line in lines:
        parts = line.split()
        if parts and parts[0] == name:
            return float(parts[1])
    raise AssertionError(f"{name} not in the report")


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced_run_is_correct_and_names_every_per_layer_metric(workload):
    lines, result = _run(workload, trace=1)
    assert result["correct"], [ln for ln in lines if "failed" in ln]
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert _report_value(lines, "failed_frac") == 0
    assert list(result["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # the traced run attributes time to layers and reports its overhead
    assert _report_value(lines, "trace.pass_s") > 0
    assert any(ln.startswith("trace.unattributed_s") for ln in lines)


def test_untraced_result_names_every_end_to_end_metric():
    lines, result = _run("schema_events", trace=0)
    assert result["correct"] and result["failed"] == 0
    assert list(result["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        assert result["metrics"][m["name"]]["value"] > 0
        assert result["metrics"][m["name"]]["unit"] == m["unit"]


def test_exits_nonzero_without_the_package(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ has no
    program to measure: the run fails without printing a result."""
    (tmp_path / "perfbench").mkdir()
    for f in ("run.py", "workloads.py", "tracing.py"):
        (tmp_path / "perfbench" / f).write_text((ROOT / "perfbench" / f).read_text())
    (tmp_path / "BENCHMARK.json").write_text(json.dumps(SPEC))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "headline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=120, check=False,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _added_names(gen) -> list[str]:
    return [c["column_name"] for st in gen._structs() for c in st
            if c["column_name"].startswith("x_")]


def test_event_walk_never_reuses_a_history_column_name():
    """The timed events continue the walk that built the long-history
    template. A column they add must have a name the history never used:
    re-adding a live or dropped name under another type is rejected by
    the package, and the event would count as failed."""
    from workloads import _EVENTS_PER_PASS, _HISTORY_VERSIONS, EventGen

    v2 = json.loads(
        (ROOT / "sample_iceberg_schema_evolution_pyiceberg_spark" / "assets" / "orders_v2.json")
        .read_text()
    )
    hist = EventGen(v2, seed=0)
    used: set[str] = set()
    for _ in range(1, _HISTORY_VERSIONS):  # the template's walk
        hist.step()
        used |= set(_added_names(hist))
    for seed in (*range(50), 1551471517):
        walk = EventGen(hist.d, seed=seed, start=_HISTORY_VERSIONS)
        live = set(_added_names(walk))
        for _ in range(_EVENTS_PER_PASS):
            walk.step()
            names = _added_names(walk)
            assert len(names) == len(set(names)), (seed, names)
            assert not (set(names) - live) & used, (seed, sorted(set(names) & used))
