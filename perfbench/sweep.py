"""Run the benchmark several times per workload, each time with another
seed, and report how steady each end-to-end metric is.

    python3 perfbench/sweep.py --seeds 10 [--first-seed 1] \
        [--workloads headline,lake_dml] [--traced 1] [--out perfbench/baseline_4core.json]

Run from the root of a checkout. For every workload it runs
``perfbench/run.py --trace 0`` once per seed (seeds F..F+N-1) and prints, per
end-to-end metric, the median and the spread: the distance between the
first and third quartile (``statistics.quantiles(values, n=4)``) as a
share of the median, next to the metric's bound in BENCHMARK.json.
``--traced K`` adds K traced runs per workload for the per-layer record.
``--out`` writes every run's metrics and labels to a JSON record.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, check=False)
    lines = proc.stdout.strip().splitlines()
    out = {"workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode,
           "wall_s": round(time.time() - t0, 3)}
    if proc.returncode == 0 and lines:
        out["result"] = json.loads(lines[-1])
        for line in lines:
            if line.startswith("labels "):
                out["labels"] = json.loads(line[len("labels "):])
            elif line.startswith("check "):
                out["check"] = json.loads(line[len("check "):])
    return out


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    runs, summary, ok = [], {}, True
    for wl in args.workloads.split(","):
        mine = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            r = _run(wl, seed, spec["run_seconds"], 0)
            mine.append(r)
            res = r.get("result")
            print(f"{wl} seed={seed} exit={r['exit']} wall={r['wall_s']}s "
                  + (" ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                     + f" correct={res['correct']}" if res else "no result"), flush=True)
        for seed in range(args.first_seed, args.first_seed + args.traced):
            r = _run(wl, seed, spec["run_seconds"], 1)
            mine.append(r)
            print(f"{wl} traced seed={seed} exit={r['exit']} wall={r['wall_s']}s", flush=True)
        runs += mine
        done = [r["result"] for r in mine if r["trace"] == 0 and "result" in r]
        summary[wl] = {}
        for m in spec["end_to_end"]:
            vals = [d["metrics"][m["name"]]["value"] for d in done]
            if len(vals) < 2:
                ok = False
                continue
            sp = spread(vals)
            summary[wl][m["name"]] = {
                "median": statistics.median(vals), "spread": round(sp, 4), "bound": m["bound"],
            }
            if m["name"] != "setup_s" and sp > m["bound"]:
                ok = False
            print(f"  {wl:14s} {m['name']:12s} median={statistics.median(vals):.4g} "
                  f"spread={sp:.3f} bound={m['bound']}", flush=True)
        ok = ok and all(d["correct"] and d["failed"] == 0 for d in done)
        fps = {json.dumps(r.get("check", {}).get("plan_fingerprints"), sort_keys=True)
               for r in mine if r["trace"] == 0}
        if wl == "headline":
            summary[wl]["distinct_plan_fingerprint_sets"] = len(fps)
    print(json.dumps({"steady_and_correct": ok, "summary": summary}, indent=1))
    if args.out:
        Path(args.out).write_text(json.dumps({
            "run_seconds": spec["run_seconds"], "summary": summary, "runs": runs,
        }, indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
