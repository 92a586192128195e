"""Replicates the driver's DuckDB-oracle gate locally for every
SQL-checkable query in the registry (SURVEY.md §5 item 1)."""

from __future__ import annotations

import pytest

from data_ingestor_and_features_creator_spark import plans

from .oracle_compare import assert_same_result, duck_fetch

plans.load_all()
_ORACLES = plans.oracles()
_QUERIES = plans.queries()
SQL_IDS = sorted(_ORACLES)
ROWS_ONLY_IDS = sorted(set(_QUERIES) - set(_ORACLES))


@pytest.mark.parametrize("name", SQL_IDS)
def test_sql_oracle_parity(name, spark, duck, sf_dir):
    """Both results go through pandas — the driver's canonicalization
    path — so type-representation drift (e.g. DuckDB HUGEINT → float64
    vs Spark int64) fails HERE before the driver sees it."""
    df = _QUERIES[name](spark, sf_dir)
    spark_pdf = df.toPandas()
    spark_rows = list(spark_pdf.itertuples(index=False, name=None))
    duck_pdf = duck_fetch(duck, _ORACLES[name])
    duck_cols = list(duck_pdf.columns)
    duck_rows = list(duck_pdf.itertuples(index=False, name=None))
    assert_same_result(name, list(spark_pdf.columns), spark_rows,
                       duck_cols, duck_rows)


# Every id labeled by connected_components_star. At the test scale their
# graphs fit the driver finish, so the parity test above never runs the
# distributed rounds on an id's own graph.
CC_IDS = ["dedup_cluster_cc", "dedup_cluster_cc_star", "dedup_minhash_cluster",
          "dedup_semantic_cluster", "graph_connected_components",
          "geo_grid_dbscan"]


@pytest.mark.parametrize("name", CC_IDS)
def test_cc_oracle_parity_in_distributed_regime(name, spark, duck, sf_dir,
                                                monkeypatch):
    from data_ingestor_and_features_creator_spark.operators import graph

    def no_driver_finish(t):
        raise AssertionError(f"{name}: an empty graph never runs the rounds")

    monkeypatch.setattr(graph, "LOCAL_EDGES", 0)
    monkeypatch.setattr(graph, "_min_labels", no_driver_finish)
    test_sql_oracle_parity(name, spark, duck, sf_dir)


@pytest.mark.parametrize("name", ROWS_ONLY_IDS)
def test_rows_only_runs(name, spark, sf_dir):
    """Rows-only ops must at least execute and return a stable schema."""
    df = _QUERIES[name](spark, sf_dir)
    assert df.columns
    assert df.count() >= 0


def test_hll_sketch_estimate_accuracy_and_mergeability(spark, sf_dir):
    """VACUITY GUARD for the agg_hll_sketch_merge oracle booleans
    (round 8: the op moved from rows-only to the bounds-check oracle
    shape): the merged-daily-partials estimate must sit within TIGHT
    HLL error (5%, vs the oracle's loose 10% gate) of the exact
    per-month distinct AND agree exactly with a one-pass sketch —
    recomputed here from raw orders so a query that went vacuous
    (e.g. comparing a sketch to itself) still fails."""
    from pyspark.sql import functions as F
    from data_ingestor_and_features_creator_spark.catalog import load_table
    from data_ingestor_and_features_creator_spark.plans.q_aggregates import (
        agg_hll_sketch_merge)
    out = {r["month"]: r for r in agg_hll_sketch_merge(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", "o_orderdate").alias("month")
    daily = (o.groupBy(month, F.date_trunc("day", "o_orderdate").alias("day"))
              .agg(F.hll_sketch_agg("o_custkey").alias("sk")))
    merged = {r["month"].date(): r["n"] for r in
              daily.groupBy("month")
                   .agg(F.hll_sketch_estimate(
                            F.hll_union_agg("sk")).alias("n")).collect()}
    exact = {r["month"].date(): r["n"] for r in
             o.groupBy(month).agg(F.countDistinct("o_custkey").alias("n"))
              .collect()}
    onepass = {r["month"].date(): r["n"] for r in
               o.groupBy(month)
                .agg(F.hll_sketch_estimate(
                         F.hll_sketch_agg("o_custkey")).alias("n"))
                .collect()}
    assert out.keys() == exact.keys() and len(out) > 1
    for m, row in out.items():
        est = merged[m]
        assert abs(est - exact[m]) / exact[m] < 0.05, (m, est, exact[m])
        assert est == onepass[m], (m, est, onepass[m])
        assert row["exact_custs"] == exact[m]
        assert row["within_bounds"] and row["merge_consistent"]


def test_approx_distinct_estimate_quality(spark, sf_dir):
    """VACUITY GUARD for the agg_approx_distinct oracle boolean: the
    HLL++ estimate (rsd 2%) must sit within 6% of exact — three sigma,
    far tighter than the oracle's 10% gate — and be a non-trivial
    positive count, so the within_5rsd flag can never pass on a
    degenerate (zero/NULL) estimate."""
    from pyspark.sql import functions as F
    from data_ingestor_and_features_creator_spark.catalog import load_table
    li = load_table(spark, sf_dir, "lineitem")
    rows = (li.groupBy("l_returnflag")
              .agg(F.approx_count_distinct("l_partkey", 0.02).alias("a"),
                   F.countDistinct("l_partkey").alias("e")).collect())
    assert len(rows) >= 2
    for r in rows:
        assert r["e"] > 10
        assert abs(r["a"] - r["e"]) / r["e"] < 0.06, (r["l_returnflag"],
                                                      r["a"], r["e"])
