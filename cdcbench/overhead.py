#!/usr/bin/env python3
"""Tracing overhead: the end-to-end metrics of a traced run minus those of
an untraced run, per workload and seed.

    python3 cdcbench/overhead.py --workloads bulk_backfill,trickle_rw --seeds 1,2

The traced run reports its end-to-end metrics in its ``detail`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from spread import ROOT, run_once


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in args.workloads.split(","):
        for seed in map(int, args.seeds.split(",")):
            plain = run_once(w, seed, spec["run_seconds"], 0)
            traced = run_once(w, seed, spec["run_seconds"], 1)
            if not (plain.get("correct") and traced.get("correct")):
                print(f"{w} seed={seed}: a run failed")
                continue
            print(f"{w} seed={seed}  wall {plain['wall_s']:.1f}s -> {traced['wall_s']:.1f}s")
            for name, m in plain["metrics"].items():
                a, b = m["value"], traced["detail"]["end_to_end"][name]
                print(f"  {name:20s} {a:<10.4g} traced {b:<10.4g} "
                      f"delta {b - a:+.4g} ({(b - a) / a:+.1%}) {m['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
