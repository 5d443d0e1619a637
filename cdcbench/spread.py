#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the way BENCHMARK.json's
bounds are checked: for each workload, run the benchmark once per seed and
report each metric's median and its interquartile range as a share of the
median (``statistics.quantiles(values, n=4)``).

    python3 cdcbench/spread.py --workloads bulk_backfill,trickle_rw --seeds 1-10

Runs are sequential (one Spark session at a time). Raw results go to
``.cdcbench_out/spread-<unix time>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark process; its result line plus ``detail`` and ``wall_s``."""
    t = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "cdcbench", "run.py"),
         "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=600)
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if out.returncode == 0 and lines else {}
    if len(lines) > 1 and out.returncode == 0:
        res["detail"] = json.loads(lines[-2])["detail"]
    res["wall_s"] = time.time() - t
    return res


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10", help="a-b range or comma list")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if "-" in args.seeds:
        a, b = map(int, args.seeds.split("-"))
        seeds = list(range(a, b + 1))
    else:
        seeds = [int(s) for s in args.seeds.split(",")]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    raw = {}
    for w in args.workloads.split(","):
        runs = []
        for seed in seeds:
            r = run_once(w, seed, spec["run_seconds"], 0)
            print(f"{w} seed={seed} wall={r['wall_s']:.1f}s correct={r.get('correct')}",
                  flush=True)
            runs.append(r)
        raw[w] = runs
        ok = [r for r in runs if r.get("correct")]
        print(f"\n{w}: {len(ok)}/{len(runs)} correct, "
              f"wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
        if len(ok) < 2:
            continue
        for name in ok[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in ok]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            bound = bounds.get(name)
            flag = "" if bound is None else (
                "ok" if spread < bound / 3 else "WITHIN" if spread <= bound else "OVER")
            print(f"  {name:22s} median={med:<12.5g} spread={spread:6.3f} "
                  f"bound={bound} {flag}")
    os.makedirs(os.path.join(ROOT, ".cdcbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".cdcbench_out", f"spread-{int(time.time())}.json"),
              "w") as f:
        json.dump(raw, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
