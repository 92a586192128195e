#!/usr/bin/env python
"""One-off per-query measurement helper (round 12): time and/or dump
the formatted plan for specific registered ids, isolated
(clearCache between ids, like time_all's default).

Usage:
  python tools/qbench.py [--sf DIR] [--reps N] [--plan OUTDIR] [--suffix S] id [id...]

For each id: builds the plan, one warm noop run, then N timed noop runs
(prints each + min). Next to each time it prints how many classes Spark
compiled during that run (Janino compilations, i.e. codegen cache
misses): a warm rep that still compiles means the id's working set does
not fit the codegen cache. With --plan, writes OUTDIR/<id>_<suffix>.txt with
the .explain("formatted") output of the freshly built DataFrame.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestor_and_features_creator_spark import plans
from data_ingestor_and_features_creator_spark.session import (
    codegen_compiles, get_spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--plan", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--cold", action="store_true",
                    help="clearCache between reps too (per-rep cold)")
    ap.add_argument("ids", nargs="+")
    a = ap.parse_args()
    spark = get_spark("qbench")
    qs = plans.queries()
    for name in a.ids:
        fn = qs[name]
        spark.sparkContext.setJobDescription(name)
        if a.plan:
            os.makedirs(a.plan, exist_ok=True)
            df = fn(spark, a.sf)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(a.plan, f"{name}_{a.suffix}.txt"),
                      "w") as fh:
                fh.write(txt)
            spark.catalog.clearCache()
        c0, t0 = codegen_compiles(spark), time.perf_counter()
        fn(spark, a.sf).write.format("noop").mode("overwrite").save()
        warm = time.perf_counter() - t0
        warm_compiles = codegen_compiles(spark) - c0
        times, compiles = [], []
        for _ in range(a.reps):
            if a.cold:
                spark.catalog.clearCache()
            c0, t0 = codegen_compiles(spark), time.perf_counter()
            fn(spark, a.sf).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            compiles.append(codegen_compiles(spark) - c0)
        print(f"{name}: cold={warm:.3f} compiles={warm_compiles} "
              f"reps={times} rep_compiles={compiles} min={min(times):.3f}",
              flush=True)
        spark.catalog.clearCache()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
