"""Round-9g operator additions: the Theil T inequality index and the
Herfindahl-Hirschman concentration index — completing the
concentration/inequality family next to agg_gini_concentration and
agg_lorenz_curve.

Provenance (SURVEY.md §0 applies — empty reference checkout): Theil
1967 [PK — the entropy-based, perfectly decomposable inequality
index]; HHI is Herfindahl 1950 / Hirschman 1945 [PK — the antitrust
and portfolio concentration standard].

Float discipline: revenue rides INTEGER CENTS; shares are exact
rationals of BIGINT sums; HHI is a DECIMAL-routed sum of identical
share-squares; Theil's per-user ln(x/μ) is 9-dp-pinned (the
agg_kl_divergence discipline) and the weighted sum rides DECIMAL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.exact import dsum, dsum_sql, ln9, ln9_sql
from .registry import query


@query("agg_theil_index", oracle=f"""
WITH u AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND value > 0
    AND user_id IS NOT NULL
  GROUP BY event_type, user_id),
t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(cents) AS BIGINT) AS total
  FROM u GROUP BY event_type)
SELECT u.event_type, MAX(t.n_users) AS n_users,
       {dsum_sql(
         "(CAST(u.cents AS DOUBLE) * t.n_users / t.total) * "
         + ln9_sql('CAST(u.cents AS DOUBLE) * t.n_users / t.total'))}
         / MAX(t.n_users) AS theil_t
FROM u JOIN t ON u.event_type = t.event_type
GROUP BY u.event_type
""")
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL T INEQUALITY INDEX [PK — Theil 1967] of per-user revenue
    within each event_type: T = (1/n)·Σ r_i·ln(r_i), r_i = x_i/μ —
    the ENTROPY-based inequality measure, and the only standard one
    that decomposes exactly into within-group + between-group terms
    (why economists reach for it over Gini when drilling into
    segments; agg_gini_concentration and agg_lorenz_curve are its
    rank-based siblings here). Per-user cents are BIGINT-exact, the
    ratio r_i = cents·n/total is an identical double on both engines,
    ln(r_i) is 9-dp-pinned per row (the kl_divergence discipline),
    and the weighted sum rides DECIMAL so fold order can't drift;
    the final /n division is IEEE on identical operands, emitted
    unrounded. Zero-revenue users are excluded (x·ln(x) → 0 limit is
    the convention; value > 0 keeps the domain positive on both
    engines). Two stacked hash aggregates + a |types|-row broadcast."""
    ev = load_table(spark, sf_dir, "events")
    u = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value")
                   & (F.col("value") > 0) & F.col("user_id").isNotNull())
           .groupBy("event_type", "user_id")
           .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("cents")))
    t = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").alias("total"))
    r = (F.col("cents").cast("double") * F.col("n_users")
         / F.col("total"))
    return (u.join(F.broadcast(t), "event_type")
             .groupBy("event_type")
             .agg(F.max("n_users").alias("n_users"),
                  (dsum(r * ln9(r)) / F.max("n_users"))
                  .alias("theil_t")))


@query("agg_herfindahl_index", oracle=f"""
WITH u AS (
  SELECT event_type, user_id,
         CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value) AND user_id IS NOT NULL
  GROUP BY event_type, user_id),
t AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
         CAST(SUM(cents) AS BIGINT) AS total
  FROM u GROUP BY event_type)
SELECT u.event_type, MAX(t.n_users) AS n_users,
       {dsum_sql("POW(CAST(u.cents AS DOUBLE) / t.total, 2)")} AS hhi,
       {dsum_sql("POW(CAST(u.cents AS DOUBLE) / t.total, 2)")}
         * 10000 AS hhi_points,
       CASE WHEN MAX(t.n_users) > 1 THEN
         ({dsum_sql("POW(CAST(u.cents AS DOUBLE) / t.total, 2)")}
          - 1.0 / MAX(t.n_users)) / (1.0 - 1.0 / MAX(t.n_users))
       END AS hhi_normalized
FROM u JOIN t ON u.event_type = t.event_type
GROUP BY u.event_type
""")
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL-HIRSCHMAN CONCENTRATION INDEX [PK — the antitrust /
    portfolio-concentration standard]: HHI = Σ s_i² over each user's
    share of the event_type's revenue, plus the antitrust 0-10000
    points scale and the normalized form (HHI − 1/n)/(1 − 1/n) that
    removes the pure-count floor. The sum-of-squared-shares scalar
    every marketplace-health and revenue-concentration dashboard
    carries next to the Lorenz/Gini pair — HHI weights the HEAD
    quadratically (one dominant account moves it far more than Gini).
    Per-user cents BIGINT-exact, each share an identical double, the
    share-square sum DECIMAL-routed, everything else IEEE on
    identical operands — emitted unrounded. Two stacked hash
    aggregates + a |types|-row broadcast; the per-user grain keys
    both shuffles."""
    ev = load_table(spark, sf_dir, "events")
    u = (ev.filter(F.col("value").isNotNull() & ~F.isnan("value")
                   & F.col("user_id").isNotNull())
           .groupBy("event_type", "user_id")
           .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
                 .alias("cents")))
    t = u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("cents").alias("total"))
    sq = F.pow(F.col("cents").cast("double") / F.col("total"), F.lit(2))
    g = (u.join(F.broadcast(t), "event_type")
          .groupBy("event_type")
          .agg(F.max("n_users").alias("n_users"),
               dsum(sq).alias("hhi")))
    inv_n = 1.0 / F.col("n_users")
    return g.select(
        "event_type", "n_users", "hhi",
        (F.col("hhi") * 10000).alias("hhi_points"),
        F.when(F.col("n_users") > 1,
               (F.col("hhi") - inv_n) / (1.0 - inv_n))
         .alias("hhi_normalized"))
