#!/usr/bin/env python3
"""Steadiness report: run one workload over several seeds and print, for
each end-to-end metric, the median, the quartiles and the quartile
spread as a share of the median, next to the metric's bound from
BENCHMARK.json.

    python3 perfbench/steady.py --workload text_dedup --seeds 1-10

A metric is steady when its spread is well inside its bound (a third
of it leaves room for a second set of runs to agree). setup_s is judged
by its median only: the bound limits how far the median of a second set
may move, not the spread within one set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range a-b")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in seeds(args.seeds):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: run failed (exit {proc.returncode})")
            return 1
        res = json.loads(lines[-1])
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()),
            flush=True)
        for k in values:
            values[k].append(res["metrics"][k]["value"])
    print(f"{'metric':14s} {'median':>9s} {'q1':>9s} {'q3':>9s} "
          f"{'spread':>7s} {'bound':>6s}")
    for m in spec["end_to_end"]:
        v = values[m["name"]]
        q1, _, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        spread = (q3 - q1) / med
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 \
            else "  <- above a third of the bound"
        print(f"{m['name']:14s} {med:9.4f} {q1:9.4f} {q3:9.4f} "
              f"{spread:7.1%} {m['bound']:6.0%}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
