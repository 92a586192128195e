"""How a registered query id is timed — the one loop that bench.py and
the tools/ drivers share.

An id runs to the no-op sink: full execution, no driver collect, so the
wall clock covers the whole plan including shuffle and Python-UDF
stages. The DataFrame is rebuilt for every run, so plan construction
(and any eager jobs a query function runs while building) is inside
the timed region.
"""

from __future__ import annotations

import fnmatch
import re
import time
import uuid
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .session import codegen_compiles

QueryFn = Callable[[SparkSession, str], DataFrame]


class Run(NamedTuple):
    seconds: float    # wall, plan build included
    compiles: int     # codegen compiles the run caused
    build_jobs: int   # Spark jobs the query function ran while building


def noop_run(spark: SparkSession, fn: QueryFn, sf_dir: str) -> Run:
    """Build ``fn``'s DataFrame and run it to the no-op sink. A warm
    run that still compiles means the id's working set does not fit the
    codegen cache. The build runs in its own job group, so the eager
    jobs a query function launches before it returns a plan (connected
    components rounds, density probes) are counted apart from the
    jobs that execute the plan."""
    sc = spark.sparkContext
    group = f"harness-build-{uuid.uuid4().hex}"
    outer = sc.getLocalProperty("spark.jobGroup.id")
    c0, t0 = codegen_compiles(spark), time.perf_counter()
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        df = fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", outer)
    df.write.format("noop").mode("overwrite").save()
    return Run(time.perf_counter() - t0, codegen_compiles(spark) - c0,
               len(sc.statusTracker().getJobIdsForGroup(group)))


class Timing(NamedTuple):
    first: Run
    reps: list[Run]

    @property
    def best(self) -> float:
        return min((r.seconds for r in self.reps), default=self.first.seconds)


def release(spark: SparkSession) -> None:
    """Unpersist every block the session pins. ``clearCache`` releases
    only cached DataFrames; ``localCheckpoint`` blocks (connected
    components' edge sets) stay until the JVM collects their RDD, so
    every RDD still persisted is unpersisted too."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def measure(spark: SparkSession, fn: QueryFn, sf_dir: str, reps: int) -> Timing:
    """One first run (JIT, codegen, page cache), then ``reps`` timed
    runs. ``Timing.best`` is the min of the reps: machine contention
    and JVM GC spikes inflate single samples 2-5x run to run (the
    sliding HRV plan swung 1.1-5.7 s on consecutive quiet runs), and
    the min is the stable estimator of the plan's own cost.

    Every block a run pinned is released after that run, outside the
    timed region, even if it raised. Each rep therefore pays for its
    own caches: a rep that read the blocks the previous run filled
    would time a cache read (while ``hrv_dfa`` cached, its reps read
    0.8-1.0 s against a 3.6-3.8 s uncached run), and a min-of-reps
    would reward any id that caches. Across a long-lived session leftover caches also
    inflated late ids 3-6x (stat_ancova 45.9 s in a shared-session
    sweep vs 1.2 s isolated)."""
    def run() -> Run:
        try:
            return noop_run(spark, fn, sf_dir)
        finally:
            release(spark)

    first = run()
    return Timing(first, [run() for _ in range(reps)])


def id_order(name: str) -> tuple:
    """Sort key that puts ``sql_tpch_q2`` before ``sql_tpch_q10``."""
    return tuple(int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name))


def tpch_ids(qs) -> list[str]:
    """The 22 TPC-H ids in query-number order."""
    return sorted(fnmatch.filter(qs, "sql_tpch_q*"), key=id_order)
