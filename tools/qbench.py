#!/usr/bin/env python
"""Time registered query ids with the shared harness
(data_ingestor_and_features_creator_spark/harness.py: one first run,
then N timed reps, caches released between ids) and/or dump their
formatted plans.

Usage:
  python tools/qbench.py [--sf DIR] [--reps N] [--plan OUTDIR] [--suffix S] pattern [pattern...]

Each pattern is an fnmatch pattern over the registered ids (a plain id
matches itself); the ids a pattern matches run in natural order
(sql_tpch_q2 before sql_tpch_q10). Common forms:
  python tools/qbench.py --reps 2 'sql_tpch_q*'   # TPC-H single-stream power run
  python tools/qbench.py --reps 0 '*'             # every id once: the outlier sweep

Per id it prints the first run's wall and codegen compiles, each rep's
wall and compiles, and the min (the first run when --reps 0). A warm rep
that still compiles means the id's working set does not fit the codegen
cache. A failing id is reported and the run goes on. The last line is
one JSON object: the total of per-id mins, {id: min} and the failures;
the exit code is 1 if any id failed or a pattern matched nothing. With
--plan, writes OUTDIR/<id>_<suffix>.txt with the .explain("formatted")
output of the freshly built DataFrame.
"""

from __future__ import annotations

import argparse
import fnmatch
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestor_and_features_creator_spark import plans
from data_ingestor_and_features_creator_spark.harness import id_order, measure
from data_ingestor_and_features_creator_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("ids", nargs="+")
    a = ap.parse_args()
    spark = get_spark("qbench")
    qs = plans.queries()
    failures = {p: "no registered id matches" for p in a.ids
                if not fnmatch.filter(qs, p)}
    names = dict.fromkeys(n for p in a.ids
                          for n in sorted(fnmatch.filter(qs, p), key=id_order))
    mins: dict[str, float] = {}
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        try:
            if a.plan:
                os.makedirs(a.plan, exist_ok=True)
                df = fn(spark, a.sf)
                txt = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                with open(os.path.join(a.plan, f"{name}_{a.suffix}.txt"),
                          "w") as fh:
                    fh.write(txt)
                spark.catalog.clearCache()
            t = measure(spark, fn, a.sf, a.reps)
        except Exception as ex:  # noqa: BLE001
            traceback.print_exc()
            failures[name] = str(ex)[:200]
            spark.catalog.clearCache()  # a failed plan dump leaves its pins
            print(f"{name}: FAIL {failures[name]}", flush=True)
            continue
        mins[name] = round(t.best, 3)
        print(f"{name}: first={t.first[0]:.3f} compiles={t.first[1]} "
              f"reps={[round(s, 3) for s, _ in t.reps]} "
              f"rep_compiles={[c for _, c in t.reps]} min={mins[name]:.3f}",
              flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": a.sf, "reps": a.reps,
                      "total_sec": round(sum(mins.values()), 3),
                      "queries": mins, "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
