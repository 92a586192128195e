#!/usr/bin/env python
"""COLD-path bench: first-run wall-clock (no warm-up, fresh JVM per
query) for the corpus-heavy ops at the 10× documents blow-up
(testdata_derived/sf1ish — run `python tools/gen_derived.py --sf1ish`
first). At 100 TB nothing is ever warm: the cold first run, not the
best-of-3 warm repeat, is the number that predicts cluster cost.
OS page cache of the parquet file may still be warm — noted, not
controllable without root drop_caches.

Usage: python tools/bench_cold.py [query ...]   (default: the 2
       BASELINE.md cold-slot queries)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF1ISH = os.path.join(REPO, "testdata_derived", "sf1ish")
DEFAULT = ["dedup_fuzzy_minhash", "llm_prep_pipeline_full"]

_CHILD = r"""
import sys
sys.path.insert(0, {repo!r})
from data_ingestor_and_features_creator_spark import plans
from data_ingestor_and_features_creator_spark.harness import noop_run
from data_ingestor_and_features_creator_spark.session import get_spark
spark = get_spark("bench_cold")
print("COLD_WALL", noop_run(spark, plans.queries()[{name!r}], {sf_dir!r})[0])
"""


def main() -> int:
    names = sys.argv[1:] or DEFAULT
    if not os.path.isdir(SF1ISH):
        print("run: python tools/gen_derived.py --sf1ish", file=sys.stderr)
        return 1
    out: dict[str, float] = {}
    for name in names:
        code = _CHILD.format(repo=REPO, name=name, sf_dir=SF1ISH)
        t0 = time.perf_counter()
        r = subprocess.run([sys.executable, "-c", code],
                           capture_output=True, text=True)
        wall = time.perf_counter() - t0
        plan_wall = None
        for line in r.stdout.splitlines():
            if line.startswith("COLD_WALL"):
                plan_wall = round(float(line.split()[1]), 2)
        if plan_wall is None:
            print(name, "FAILED", r.stdout[-500:], r.stderr[-1500:],
                  file=sys.stderr)
            return 1
        out[name] = plan_wall
        print(f"{name}: plan {plan_wall} s (process incl. JVM start "
              f"{wall:.1f} s)")
    print(json.dumps({"metric": "cold_first_run_wall_sf1ish",
                      "unit": "sec", "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
