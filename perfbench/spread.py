#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and report, for
each end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload serve_mix --seeds 1-10

Runs are sequential (parallel runs would contend for the cores being
measured). A run that fails an output check still counts in the
spreads. Exits 1 if a run fails or a spread (setup_s excepted) exceeds
its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kgbench.stats import quartile_spread  # noqa: E402


def seed_list(spec: str):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {name: [] for name in bounds}
    ok = True
    for seed in seed_list(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0:
            ok = False
        if not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        # a run whose output check failed still reports its timings
        res = json.loads(lines[-1])
        print(f"seed {seed}: exit {proc.returncode} " + json.dumps(
            {"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
             **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}), flush=True)
        for name in bounds:
            values[name].append(res["metrics"][name]["value"])
    for name, vals in values.items():
        if len(vals) < 2:
            continue
        spread = quartile_spread(vals)
        flag = "" if spread <= bounds[name] / 3 else "  (above a third of the bound)"
        print(f"{name:14s} median {statistics.median(vals):10.4f}  spread {spread:.4f}  "
              f"bound {bounds[name]}{flag}")
        if name != "setup_s" and spread > bounds[name]:
            ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
