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
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from .session import codegen_compiles

QueryFn = Callable[[SparkSession, str], DataFrame]


def noop_run(spark: SparkSession, fn: QueryFn, sf_dir: str) -> tuple[float, int]:
    """Build ``fn``'s DataFrame and run it to the no-op sink. Returns
    wall seconds (build included) and the codegen compiles it caused
    (a warm run that still compiles means the id's working set does
    not fit the codegen cache)."""
    c0, t0 = codegen_compiles(spark), time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, codegen_compiles(spark) - c0


class Timing(NamedTuple):
    first: tuple[float, int]
    reps: list[tuple[float, int]]

    @property
    def best(self) -> float:
        return min((s for s, _ in self.reps), default=self.first[0])


def measure(spark: SparkSession, fn: QueryFn, sf_dir: str, reps: int) -> Timing:
    """One first run (JIT, codegen, page cache), then ``reps`` timed
    runs. ``Timing.best`` is the min of the reps: machine contention
    and JVM GC spikes inflate single samples 2-5x run to run (the
    sliding HRV plan swung 1.1-5.7 s on consecutive quiet runs), and
    the min is the stable estimator of the plan's own cost.

    Every block the id pinned is released afterwards, outside the timed
    region, even if a run raised. Queries cache intra-query diamonds
    and leave them pinned; across a long-lived session those caches
    accumulated and inflated late ids 3-6x (stat_ancova 45.9 s in a
    shared-session sweep vs 1.2 s isolated). Within one id the caches
    stay warm across its reps."""
    try:
        first = noop_run(spark, fn, sf_dir)
        return Timing(first, [noop_run(spark, fn, sf_dir) for _ in range(reps)])
    finally:
        spark.catalog.clearCache()


def id_order(name: str) -> tuple:
    """Sort key that puts ``sql_tpch_q2`` before ``sql_tpch_q10``."""
    return tuple(int(t) if t.isdigit() else t for t in re.split(r"(\d+)", name))


def tpch_ids(qs) -> list[str]:
    """The 22 TPC-H ids in query-number order."""
    return sorted(fnmatch.filter(qs, "sql_tpch_q*"), key=id_order)
