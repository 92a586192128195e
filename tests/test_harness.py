"""The shared timing harness (harness.py): what a measurement runs, that
it leaves nothing pinned, and that it stays the only no-op-sink timing
loop among the drivers."""

from __future__ import annotations

import os
import re

import pytest

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
    assert t.best == (min(s for s, _ in t.reps) if reps else t.first[0])


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
