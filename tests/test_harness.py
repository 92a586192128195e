"""The shared timing harness (harness.py): what a measurement runs, that
it leaves nothing pinned, and that it stays the only no-op-sink timing
loop among the drivers."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from data_ingestor_and_features_creator_spark import harness, plans

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize("reps", [0, 2])
def test_every_run_rebuilds_the_dataframe(spark, sf_dir, reps):
    q6 = plans.queries()["sql_tpch_q6"]
    builds = []

    def fn(s, d):
        builds.append(d)
        return q6(s, d)

    t = harness.measure(spark, fn, sf_dir, reps)
    assert builds == [sf_dir] * (1 + reps)
    assert len(t.reps) == reps
    assert t.best == (min(r.seconds for r in t.reps) if reps
                      else t.first.seconds)


def test_measure_releases_what_the_id_pinned(spark, sf_dir):
    def fn(s, d):
        base = s.range(1000).cache()
        base.count()
        return base.selectExpr("sum(id) AS s")

    def failing(s, d):
        s.range(10).cache().count()
        raise RuntimeError("planted")

    spark.catalog.clearCache()
    harness.measure(spark, fn, sf_dir, 1)
    assert _cache_empty(spark)
    with pytest.raises(RuntimeError, match="planted"):
        harness.measure(spark, failing, sf_dir, 1)
    assert _cache_empty(spark)


def test_measure_releases_checkpoint_blocks(spark, sf_dir):
    # clearCache does not touch localCheckpoint blocks
    def fn(s, d):
        return s.range(1000).localCheckpoint().selectExpr("sum(id) AS s")

    harness.measure(spark, fn, sf_dir, 1)
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == 0


def test_each_rep_starts_with_nothing_pinned(spark, sf_dir):
    # a rep that found the previous run's blocks would time a cache read
    pinned = []

    def fn(s, d):
        pinned.append((_cache_empty(s),
                       len(s.sparkContext._jsc.getPersistentRDDs())))
        base = s.range(1000).cache()
        base.count()
        s.range(100).localCheckpoint().count()
        return base.selectExpr("sum(id) AS s")

    harness.release(spark)
    harness.measure(spark, fn, sf_dir, 2)
    assert pinned == [(True, 0)] * 3
    assert _cache_empty(spark)


@pytest.mark.parametrize("eager", [0, 3])
def test_build_jobs_counts_only_the_jobs_run_while_building(spark, eager):
    # each collect of a range is one job; the execution of the returned
    # plan (its own jobs) must not be counted, and the caller's job group
    # must be back in place afterwards
    def fn(s, d):
        for _ in range(eager):
            s.range(3).collect()
        return s.range(1000).groupBy((F.col("id") % 7).alias("k")).count()

    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", "outer")
    try:
        run = harness.noop_run(spark, fn, "")
        assert sc.getLocalProperty("spark.jobGroup.id") == "outer"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert run.build_jobs == eager


def test_tpch_ids_are_the_22_in_query_order():
    assert harness.tpch_ids(plans.queries()) == [
        f"sql_tpch_q{i}" for i in range(1, 23)]


def test_no_other_noop_sink_loop_in_the_drivers():
    paths = [os.path.join(REPO, "bench.py")] + [
        os.path.join(REPO, "tools", f)
        for f in sorted(os.listdir(os.path.join(REPO, "tools")))
        if f.endswith(".py")]
    noop = re.compile(r"""format\(\s*["']noop["']\s*\)""")
    assert [p for p in paths if noop.search(open(p).read())] == []
